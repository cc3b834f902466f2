#!/usr/bin/env python3
"""plc benchmark: seeded closed-loop workloads against plc's public API.

Run from the root of a plc checkout:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

One process, one client, ``local[nproc]``. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` is the separate traced run that charges
time to layers (see perfbench/README.md). Progress and the detailed report
go to stdout as JSON lines; the last line is the result object. Exits
non-zero, without a result line, when plc cannot be imported, and with
``"correct": false`` and exit code 1 when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_ROWS = 50_000          # ~53 MB of raw int32 tokens
PARTS, STRAGGLERS = 8, 4  # explicit, so stored bytes do not depend on nproc
# Warm-up, charged to setup_s. The setup store build is the cold first
# encode (~4x a steady one on a 4-vCPU VM) and per-op CPU keeps falling for
# several more ops (JIT, Python worker pool): bulk runs one more
# encode+decode cycle, small_ops one or two ops of each kind. More would
# not fit the run budget in perfbench/README.md on a contended host
WARMUP_CYCLES = 1
WARMUP_OPS = {"ingest": 2, "point": 2, "batch": 1, "agg": 1}
INGEST_ROWS = 2_000      # rows per streamed micro-batch
BATCH_KEYS = 16          # keys per decode(doc_ids=...) lookup
ABSENT_FRAC = 0.1        # share of looked-up keys that are not stored
AGG_KEYS = 1_000         # doc_id range width of the format-reader aggregate
# small_ops op sequence, repeated: writes and point reads dominate so each
# gets enough samples for a median inside one run
SMALL_CYCLE = ("ingest", "point", "agg", "ingest", "point", "ingest",
               "point", "batch")
WORKLOADS = ("bulk", "small_ops")
# which op kinds are the workload's write and read for the shared metrics
WRITE = {"bulk": "encode", "small_ops": "ingest"}
READ = {"bulk": "decode", "small_ops": "point"}

E2E_UNITS = {"write_cpu_s_p50": "s", "read_cpu_s_p50": "s",
             "bytes_vs_parquet_cpp": "ratio", "py_peak_pss_gb": "GB",
             "setup_s": "s"}


def emit(kind: str, obj) -> None:
    print(json.dumps({kind: obj}, default=str), flush=True)


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark run: session, seeded inputs, setup store, op loop."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.ops: list[dict] = []
        self.checks: list[tuple[str, bool, object]] = []
        self.counts: dict[str, int] = {}
        self.seq = 0
        self.peak_mem = 0  # max Python-side PSS sampled after each op
        # traced-run layer counters
        self.hits = self.selected = 0  # chunks holding a key, selected
        self.chunk_of: dict = {}
        self.ds = []  # (partitions, chunks kept, chunks total) per agg

    # -- session and inputs -------------------------------------------------

    def start_session(self):
        from pyspark.sql import SparkSession

        ncpu = len(os.sched_getaffinity(0))
        mem_gb = max(1, min(16, int(mem_available_bytes() * 0.35 / 2**30)))
        self.spark = (
            SparkSession.builder.master(f"local[{ncpu}]")
            .appName("plc-perfbench")
            .config("spark.sql.shuffle.partitions", str(ncpu))
            .config("spark.driver.memory", f"{mem_gb}g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work, "warehouse"))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        from ledger import jvm_pid

        self.jvm = jvm_pid(self.spark)
        return ncpu, mem_gb

    def make_inputs(self):
        """Seeded table, its parquet copy and the parquet-cpp baseline;
        Spark-free, so it overlaps the JVM start."""
        import pyarrow.parquet as pq

        from plc.data import raw_token_bytes, synth_tokens_table

        self.tbl = synth_tokens_table(N_ROWS, seed=self.args.seed)
        self.raw = raw_token_bytes(self.tbl)
        self.src = os.path.join(self.work, "src.parquet")
        pq.write_table(self.tbl, self.src, row_group_size=8192)
        base = os.path.join(self.work, "baseline.parquet")
        pq.write_table(self.tbl, base, compression="ZSTD",
                       use_dictionary=True)
        self.baseline_bytes = os.path.getsize(base)
        os.unlink(base)

    def cfg(self):
        from plc.pipeline import PipelineConfig

        return PipelineConfig(num_partitions=PARTS,
                              straggler_parts=STRAGGLERS)

    def build_store(self, name: str) -> dict:
        import plc.pipeline as P

        dst = os.path.join(self.work, name)
        rep = P.encode(self.spark, self.src_df, dst, self.cfg())
        rep["dst"] = dst
        return rep

    # -- one operation --------------------------------------------------------

    def run_op(self, kind: str, do, check, traced: bool = False,
               after=None) -> dict:
        """Time ``do()``; then, untimed, ``check(result)`` and, on traced
        ops, ``after(result, rec)`` plus the Spark stage read-out."""
        from plc.procstat import proc_tree_cpu_sec

        from ledger import cpu_split, pss_bytes, tree_pss_bytes

        rec = {"kind": kind, "seq": self.seq, "traced": traced}
        self.seq += 1
        mark = self.jobs.watermark() if traced else None
        cpu0 = cpu_split(self.jvm) if traced else None
        sc = self.spark.sparkContext
        j0 = cpu_jiffies()
        c0 = proc_tree_cpu_sec()
        t0 = time.perf_counter()
        try:
            if traced:
                # labels the op's jobs in Spark; attribution itself uses the
                # job-id watermark, which also covers foreachBatch threads
                sc.setJobGroup(f"perfbench-{kind}", f"op {rec['seq']}")
                with self.tracer.operation(kind, rec["seq"]) as root:
                    out = do()
                rec["root"] = root
            else:
                out = do()
            rec["wall"] = time.perf_counter() - t0
        except Exception as e:  # an op failure is counted, not fatal
            rec.update(wall=time.perf_counter() - t0, ok=False,
                       error=f"{type(e).__name__}: {e}"[:500])
            self.ops.append(rec)
            emit("op_failed", rec)
            return rec
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec["cpu"] = proc_tree_cpu_sec() - c0
        j1 = cpu_jiffies()
        rec["steal"] = (j1[0] - j0[0]) / max(1, j1[1] - j0[1])
        if traced:
            cpu1 = cpu_split(self.jvm)
            rec["cpu_workers"] = cpu1["workers"] - cpu0["workers"]
            rec["cpu_jvm"] = cpu1["jvm"] - cpu0["jvm"]
        try:
            rec["ok"] = bool(check(out))
        except Exception as e:
            rec["ok"] = False
            rec["error"] = f"check: {type(e).__name__}: {e}"[:500]
        if not rec["ok"]:
            emit("op_failed", rec)
        rec["pss"] = tree_pss_bytes()
        rec["pss_jvm"] = pss_bytes(self.jvm)
        self.peak_mem = max(self.peak_mem, rec["pss"] - rec["pss_jvm"])
        if traced:
            rec["jobs"] = self.jobs.jobs_since(mark)
            if after is not None:
                after(out, rec)
        self.ops.append(rec)
        return rec

    def next_traced(self, kind: str) -> bool:
        """In a traced run every other op of a kind is traced; the others
        give the untraced walls the tracing overhead is measured against."""
        n = self.counts.get(kind, 0)
        self.counts[kind] = n + 1
        return bool(self.args.trace) and n % 2 == 0

    # -- bulk -----------------------------------------------------------------

    def bulk_cycle(self, i: int, warm: bool = False) -> None:
        import plc.pipeline as P

        dst = os.path.join(self.work, f"bulk{i}")
        kind_e, kind_d = ("warm_encode", "warm_decode") if warm else \
            ("encode", "decode")
        traced = not warm and self.next_traced("encode")

        def check_encode(rep):
            self.enc_bytes.add(rep["enc_bytes"])
            return rep["enc_bytes"] == self.setup["enc_bytes"] and \
                rep["rows"] == N_ROWS

        self.run_op(kind_e, lambda: P.encode(self.spark, self.src_df, dst,
                                             self.cfg()),
                    check_encode, traced)
        traced = not warm and self.next_traced("decode")
        self.run_op(kind_d, lambda: P.decode(self.spark, dst).write
                    .format("noop").mode("overwrite").save(),
                    lambda _: True, traced)
        if self.last_dst is not None:
            shutil.rmtree(self.last_dst, ignore_errors=True)
        self.last_dst = dst

    def bulk_setup(self) -> None:
        self.enc_bytes: set[int] = set()
        self.last_dst = None
        for i in range(WARMUP_CYCLES):
            self.bulk_cycle(-1 - i, warm=True)

    def bulk_loop(self, deadline: float) -> None:
        i = 0
        while time.perf_counter() < deadline:
            self.bulk_cycle(i)
            i += 1

    def bulk_final(self) -> None:
        import plc.pipeline as P

        t0 = time.perf_counter()
        v = P.verify(self.spark, self.src_df, self.last_dst,
                     method="checksum")
        self.report["verify_s"] = time.perf_counter() - t0
        self.checks.append(("verify_last_store",
                            v["mismatches"] == 0 and
                            v["rows_decoded"] == N_ROWS, v))
        self.checks.append(("enc_bytes_identical",
                            len(self.enc_bytes | {self.setup["enc_bytes"]})
                            == 1, sorted(self.enc_bytes)))

    # -- small_ops ------------------------------------------------------------

    def small_ops_setup(self) -> None:
        import plc

        plc.register(self.spark)
        self.store = self.setup["dst"]
        self.in_dir = os.path.join(self.work, "ingest-in")
        os.makedirs(self.in_dir)
        self.stream_root = os.path.join(self.work, "ingest-store")
        self.ckpt = os.path.join(self.work, "ingest-ckpt")
        self.stream_df = (self.spark.readStream.schema(self.src_df.schema)
                          .option("maxFilesPerTrigger", 1)
                          .parquet(self.in_dir))
        self.ingested: list[tuple[int, int]] = []  # (rows, token sum)
        self.n_batches = 0
        # one thread per op kind, each running its warm-up ops in turn:
        # this warms the JVM and the Python worker pool in less wall time
        # than one op after another. Lookup and agg parameters are drawn
        # up front; ingest draws its own, as each batch's input file must
        # appear only when that batch runs
        drawn = {k: [self.small_op(k, warm=True) for _ in range(n)]
                 for k, n in WARMUP_OPS.items() if k != "ingest"}
        warm = [threading.Thread(target=lambda ops=ops: [op() for op in ops])
                for ops in drawn.values()]
        warm.append(threading.Thread(target=lambda: [
            self.small_op("ingest", warm=True)()
            for _ in range(WARMUP_OPS["ingest"])]))
        for th in warm:
            th.start()
        for th in warm:
            th.join()

    def key(self) -> str:
        k = f"doc-{self.rng.randrange(N_ROWS):012d}"
        if self.rng.random() < ABSENT_FRAC:
            return k + "x"  # sorts inside a chunk's doc_id range, not stored
        return k

    def source_rows(self, keys):
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self.tbl.filter(pc.is_in(self.tbl.column("doc_id"),
                                     value_set=pa.array(keys)))
        return t.sort_by("doc_id").to_pylist()

    def check_rows(self, keys, got) -> bool:
        got = got.sort_by("doc_id").select(self.tbl.column_names).to_pylist()
        return got == self.source_rows(keys)

    def count_chunks(self, keys, **kw) -> None:
        """Add the chunks a lookup selects and the chunks that hold one of
        its keys to the traced-run totals."""
        import plc.pipeline as P

        if not self.chunk_of:
            self.chunk_of = self.doc_chunks()
        enc, _ = P.select_chunks(self.spark, self.store, **kw)
        self.selected += enc.count()
        self.hits += len({self.chunk_of[k] for k in keys
                          if k in self.chunk_of})

    def doc_chunks(self) -> dict:
        """doc_id -> (file, chunk row) of the setup store, decoded
        in-process."""
        import glob

        import pyarrow.parquet as pq

        from plc.chunk import unpack_chunk

        out = {}
        for f in glob.glob(os.path.join(self.store, "data", "part_id=*",
                                        "*.parquet")):
            pay = pq.read_table(f, columns=["payload"]).column("payload")
            for i, p in enumerate(pay.to_pylist()):
                for d in unpack_chunk(p, columns=["doc_id"]).column(0) \
                        .to_pylist():
                    out[d] = (f, i)
        return out

    def small_op(self, kind: str, warm: bool = False):
        """Draw one op's seeded parameters (and write an ingest batch's
        input file); return the call that runs it."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        import plc
        import plc.pipeline as P

        name = f"warm_{kind}" if warm else kind
        traced = not warm and self.next_traced(kind)
        if kind == "ingest":
            start = self.rng.randrange(N_ROWS - INGEST_ROWS)
            batch = self.tbl.slice(start, INGEST_ROWS)
            pq.write_table(batch, os.path.join(
                self.in_dir, f"b{self.n_batches:06d}.parquet"))
            self.n_batches += 1
            n_batches = self.n_batches

            def do():
                q = plc.encode_stream(self.stream_df, self.stream_root,
                                      self.ckpt)
                q.awaitTermination()
                return q

            def check(q):
                # one new input file is exactly one committed micro-batch
                ok = q.exception() is None and len(plc.committed_batches(
                    self.spark, self.stream_root)) == n_batches
                if ok:
                    self.ingested.append(
                        (INGEST_ROWS, pc.sum(batch.column("n_tok")).as_py()))
                return ok

            return lambda: self.run_op(name, do, check, traced)
        elif kind == "point":
            k = self.key()

            def after(_, rec):
                self.count_chunks([k], filters={"doc_id": (k, k)})

            return lambda: self.run_op(name, lambda: P.decode(
                self.spark, self.store, filters={"doc_id": (k, k)}).toArrow(),
                lambda t: self.check_rows([k], t), traced, after)
        elif kind == "batch":
            keys = [self.key() for _ in range(BATCH_KEYS)]

            def after(_, rec):
                self.count_chunks(keys, doc_ids=keys)

            return lambda: self.run_op(name, lambda: P.decode(
                self.spark, self.store, doc_ids=keys).toArrow(),
                lambda t: self.check_rows(keys, t), traced, after)
        else:
            a = self.rng.randrange(N_ROWS - AGG_KEYS)
            lo, hi = f"doc-{a:012d}", f"doc-{a + AGG_KEYS:012d}"

            def do():
                with self.tracer.span("datasource.load"):
                    df = self.spark.read.format("plc").load(self.store)
                return df.filter((F.col("doc_id") >= lo)
                                 & (F.col("doc_id") <= hi)) \
                    .agg(F.count("*").alias("n"),
                         F.sum("n_tok").alias("s")).collect()[0]

            def check(row):
                d = self.tbl.column("doc_id")
                sel = self.tbl.filter(pc.and_(pc.greater_equal(d, lo),
                                              pc.less_equal(d, hi)))
                return row["n"] == sel.num_rows and \
                    row["s"] == pc.sum(sel.column("n_tok")).as_py()

            def after(_, rec):
                self.ds.append(self.replay_datasource(lo, hi))

            return lambda: self.run_op(name, do, check, traced, after)

    def replay_datasource(self, lo: str, hi: str) -> tuple[int, int, int]:
        """Plan the aggregate's scan in-process with the plc reader, as the
        Python planner worker does, to count partitions and kept chunks."""
        from pyspark.sql.datasource import (GreaterThanOrEqual,
                                            LessThanOrEqual)

        from plc.datasource import PLCReader

        r = PLCReader(self.store, self.src_df.schema)
        list(r.pushFilters([GreaterThanOrEqual(("doc_id",), lo),
                            LessThanOrEqual(("doc_id",), hi)]))
        parts = r.partitions()
        kept = sum(len(p.rows) for p in parts)
        return len(parts), kept, self.setup["chunks"]

    def small_ops_loop(self, deadline: float) -> None:
        i = 0
        while time.perf_counter() < deadline:
            self.small_op(SMALL_CYCLE[i % len(SMALL_CYCLE)])()
            i += 1

    def small_ops_final(self) -> None:
        from pyspark.sql import functions as F

        import plc

        t = plc.decode_stream(self.spark, self.stream_root) \
            .agg(F.count("*"), F.sum("n_tok")).collect()[0]
        want = (sum(r for r, _ in self.ingested),
                sum(s for _, s in self.ingested))
        self.checks.append(("decode_stream_rows",
                            (t[0], t[1]) == want, {"got": list(t),
                                                   "want": list(want)}))

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        from ledger import SparkJobs, Tracer

        a = self.args
        t_start = time.perf_counter()
        self.tracer = Tracer()
        started: dict = {}

        def start():
            try:
                started["v"] = self.start_session()
            except BaseException as e:  # re-raised on the client thread
                started["e"] = e

        th = threading.Thread(target=start)
        th.start()
        self.make_inputs()
        self.report = {"inputs_s": time.perf_counter() - t_start}
        th.join()
        if "e" in started:
            raise started["e"]
        ncpu, mem_gb = started["v"]
        self.report["session_s"] = time.perf_counter() - t_start
        self.src_df = self.spark.read.parquet(self.src)
        import numpy
        import pyarrow
        import pyspark

        emit("env", {"workload": a.workload, "seed": a.seed,
                     "seconds": a.seconds, "trace": a.trace, "nproc": ncpu,
                     "mem_available_gb": round(mem_available_bytes() / 2**30,
                                               2),
                     "driver_memory_gb": mem_gb,
                     "loadavg_before": os.getloadavg(),
                     "spark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__, "rows": N_ROWS,
                     "parts": PARTS, "straggler_parts": STRAGGLERS})
        self.jobs = SparkJobs(self.spark)
        if a.trace:
            self.install_spans()
        t = time.perf_counter()
        self.setup = self.build_store("setup-store")
        self.setup["chunks"] = self.store_chunks(self.setup["dst"])
        self.report["store_build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        getattr(self, f"{a.workload}_setup")()
        self.report["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start
        self.ops.clear()  # warm-up ops are setup, not measured
        self.counts.clear()
        self.peak_mem = 0

        from plc.procstat import proc_tree_cpu_sec

        steal0, total0 = cpu_jiffies()
        cpu0 = proc_tree_cpu_sec()
        loop0 = time.perf_counter()
        getattr(self, f"{a.workload}_loop")(loop0 + a.seconds)
        self.report["loop_s"] = time.perf_counter() - loop0
        self.report["loop_cpu_s"] = proc_tree_cpu_sec() - cpu0
        steal1, total1 = cpu_jiffies()
        # CPU time the hypervisor gave to other guests during the loop: the
        # host-contention evidence behind a slow run
        self.report["loop_steal_frac"] = \
            (steal1 - steal0) / max(1, total1 - total0)
        self.report["loadavg_after_loop"] = os.getloadavg()
        t = time.perf_counter()
        getattr(self, f"{a.workload}_final")()
        self.report["final_checks_s"] = time.perf_counter() - t
        if a.trace:
            metrics = self.layer_metrics()
        else:
            metrics = self.e2e_metrics(setup_s, self.peak_mem)
        self.report.update(self.op_summary())
        self.report["setup_s"] = setup_s
        emit("report", self.report)
        return metrics

    @staticmethod
    def store_chunks(dst: str) -> int:
        import glob

        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(
            os.path.join(dst, "data", "part_id=*", "*.parquet")))

    # -- metrics ---------------------------------------------------------------

    def walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [r["wall"] for r in self.ops if r["kind"] == kind and r["ok"]
                and (traced is None or r["traced"] == traced)]

    def op_summary(self) -> dict:
        """Per-op figures, with sample counts, for the report line."""
        out = {}
        gb = self.raw / 1e9
        for kind in sorted({r["kind"] for r in self.ops}):
            w = self.walls(kind)
            out[f"{kind}_s_p50"] = med(w)
            out[f"{kind}_n"] = len(w)
        if self.args.workload == "bulk":
            out["encode_gbps"] = gb / med(self.walls("encode"))
            out["decode_gbps"] = gb / med(self.walls("decode"))
            out["encode_core_s_per_gb"] = med(self.cpus("encode")) / gb
        # per op: kind, wall s, tree CPU s, machine steal share, tree PSS
        # GB, JVM PSS GB
        out["ops"] = [[r["kind"], round(r["wall"], 3), round(r["cpu"], 2),
                       round(r["steal"], 4), round(r["pss"] / 1e9, 3),
                       round(r["pss_jvm"] / 1e9, 3)]
                      for r in self.ops if "pss" in r]
        out["raw_token_bytes"] = self.raw
        out["enc_bytes"] = self.setup["enc_bytes"]
        out["baseline_bytes"] = self.baseline_bytes
        attempted, failed = self.tally()
        out["error_rate"] = failed / attempted if attempted else 0.0
        out["checks"] = [{"name": c, "ok": ok, "detail": d}
                         for c, ok, d in self.checks]
        return out

    def tally(self) -> tuple[int, int]:
        """(attempted, failed): measured ops plus correctness checks."""
        return (len(self.ops) + len(self.checks),
                sum(not r["ok"] for r in self.ops)
                + sum(not ok for _, ok, _ in self.checks))

    def cpus(self, kind: str) -> list[float]:
        return [r["cpu"] for r in self.ops if r["kind"] == kind and r["ok"]]

    def e2e_metrics(self, setup_s: float, peak: int) -> dict:
        wl = self.args.workload
        return {
            "write_cpu_s_p50": med(self.cpus(WRITE[wl])),
            "read_cpu_s_p50": med(self.cpus(READ[wl])),
            "bytes_vs_parquet_cpp":
                self.setup["enc_bytes"] / self.baseline_bytes,
            "py_peak_pss_gb": peak / 1e9,
            "setup_s": setup_s,
        }

    def install_spans(self) -> None:
        """Wrap the driver-side entry points of plc's modules and the
        pyspark calls plc makes into the engine."""
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

        import plc.pipeline as P
        import plc.streaming as S
        from plc import fsio, util

        from ledger import PLAN_GROUP

        tr = self.tracer
        for fn in ("encode", "decode", "select_chunks"):
            tr.wrap(P, fn, f"pipeline.{fn}")
        tr.wrap(S, "encode", "pipeline.encode")
        for fn in ("exists", "nonempty_dir", "listdir", "mkdirs", "delete",
                   "write_text", "read_text"):
            tr.wrap(fsio, fn, f"fsio.{fn}")
        tr.wrap(util, "ensure_shipped", "util.ensure_shipped")
        tr.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        tr.wrap(DataFrameWriter, "save", "spark.write_save")
        frame = type(self.src_df)  # the classic (non-Connect) DataFrame
        tr.wrap(frame, "collect", "spark.collect")
        tr.wrap(frame, "toArrow", "spark.to_arrow")
        tr.wrap(DataStreamWriter, "start", "spark.stream_start")
        tr.wrap(StreamingQuery, "awaitTermination", "spark.stream_await")

        plan = P.build_plan
        sc = self.spark.sparkContext

        def build_plan(*args, **kwargs):
            if not tr.active:
                return plan(*args, **kwargs)
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", PLAN_GROUP)
            try:
                with tr.span("pipeline.build_plan"):
                    return plan(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        P.build_plan = build_plan
        tr._patches.append((P, "build_plan", plan))

    def layer_metrics(self) -> dict:
        import codec_pass
        from ledger import PLAN_GROUP

        wl = self.args.workload
        tr = self.tracer
        kids = tr.children()
        m: dict[str, float] = {}

        def traced(kind):
            return [r for r in self.ops if r["kind"] == kind and r["ok"]
                    and r["traced"]]

        def span_s(r, name, field="s"):
            return r["totals"].get(name, {}).get(field, 0.0)

        for r in self.ops:
            if r["traced"] and r["ok"]:
                r["totals"] = tr.totals(r["root"], kids)
                r["self_root"] = tr.self_time(r["root"], kids)

        writes = traced(WRITE[wl])
        plan = [span_s(r, "pipeline.build_plan") for r in writes]
        data = [span_s(r, "spark.write_parquet") for r in writes]
        enc = [span_s(r, "pipeline.encode") for r in writes]
        m["pipeline.build_plan.s"] = med(plan)
        m["pipeline.data_path.s"] = med(data)
        m["pipeline.commit.s"] = med([e - p - d for e, p, d
                                      in zip(enc, plan, data)])
        m["pipeline.encode.jobs"] = med([len(r["jobs"]) for r in writes])
        st = [self.jobs.stages([j for j in r["jobs"]
                                if j["group"] != PLAN_GROUP], skew=True)
              for r in writes]
        for k in ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "input_bytes", "output_bytes",
                  "tasks", "task_skew"):
            m[f"spark.encode.{k}"] = med([s[k] for s in st])
        m["fsio.calls"] = med([sum(v["calls"] for n, v in r["totals"].items()
                                   if n.startswith("fsio.")) for r in writes])
        m["fsio.s"] = med([sum(v["s"] for n, v in r["totals"].items()
                               if n.startswith("fsio.")) for r in writes])
        m["streaming.batch_overhead.s"] = med(
            [r["wall"] - e for r, e in zip(writes, enc)]) \
            if wl == "small_ops" else 0.0

        reads = traced(READ[wl])
        m["pipeline.select_chunks.s"] = med(
            [span_s(r, "pipeline.select_chunks") for r in reads])
        m["pipeline.decode.jobs"] = med([len(r["jobs"]) for r in reads])
        m["pipeline.select_chunks.chunks_read_per_hit"] = \
            self.selected / self.hits if self.hits else 0.0
        dec = [self.jobs.stages(r["jobs"]) for r in traced("decode")]
        for k in ("exec_run_s", "exec_cpu_s", "input_bytes"):
            m[f"spark.decode.{k}"] = med([s[k] for s in dec])
        look = [self.jobs.stages(r["jobs"])
                for r in traced("point") + traced("batch")]
        for k in ("input_bytes", "tasks"):
            m[f"spark.lookup.{k}"] = med([s[k] for s in look])

        for side, ops in (("write", writes), ("read", reads)):
            m[f"proc.{side}.worker_cpu_s"] = med([r["cpu_workers"]
                                                  for r in ops])
            m[f"proc.{side}.jvm_cpu_s"] = med([r["cpu_jvm"] for r in ops])

        aggs = traced("agg")
        m["datasource.load.s"] = med([span_s(r, "datasource.load")
                                      for r in aggs])
        m["datasource.partitions"] = med([p for p, _, _ in self.ds])
        m["datasource.chunks_pruned_frac"] = med(
            [1 - k / t for _, k, t in self.ds if t])

        # self-time ledger of the write op: the residual is the wall that no
        # layer below plc's entry call covers (the op root's and the
        # pipeline.encode span's own self time: driver-side glue, manifest
        # roll-up and write)
        resid = [r["self_root"] + span_s(r, "pipeline.encode", "self_s")
                 for r in writes]
        m["trace.write.residual_s"] = med(resid)
        m["trace.write.covered_frac"] = med(
            [1 - x / r["wall"] for x, r in zip(resid, writes)])
        for side, kind in (("write", WRITE[wl]), ("read", READ[wl])):
            m[f"trace.{side}.overhead_s"] = (
                med(self.walls(kind, True)) - med(self.walls(kind, False))
                if self.walls(kind, False) else 0.0)
        self.report["write_self_time_s"] = self.self_ledger(writes)
        self.report["read_self_time_s"] = self.self_ledger(reads)

        res = codec_pass.run(tr, self.setup["dst"])
        m.update(codec_pass.layer_metrics(res))
        self.checks.append(("codec_pass_roundtrip",
                            res["mismatched_chunks"] == 0 and res["chunks"]
                            == self.setup["chunks"],
                            {"chunks": res["chunks"],
                             "mismatched": res["mismatched_chunks"]}))
        self.checks.append(self.codec_report_check(res["codec_counts"]))

        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench_out",
                             f"spans-{wl}-{self.args.seed}.tsv"))
        return m

    @staticmethod
    def self_ledger(ops: list[dict]) -> dict:
        """Median self time per span name over ``ops``, root included."""
        names = sorted({n for r in ops for n in r["totals"]})
        out = {n: med([r["totals"].get(n, {}).get("self_s", 0.0)
                       for r in ops]) for n in names}
        out["<root self>"] = med([r["self_root"] for r in ops])
        out["<wall>"] = med([r["wall"] for r in ops])
        return out

    def codec_report_check(self, counts: dict) -> tuple:
        import plc.pipeline as P

        rep = {(r["column"], r["codec"]): r["n_chunks"] for r in
               P.codec_report(self.spark, self.setup["dst"]).collect()}
        return ("codec_counts_match_codec_report", rep == counts,
                {f"{c}/{k}": n for (c, k), n in sorted(counts.items())})


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait until every process it started has
    exited."""
    from ledger import tree_pids

    pids = tree_pids()
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits on EOF
    gw.proc.wait(timeout=60)

    def wait_gone(seconds: float) -> list[int]:
        deadline = time.time() + seconds
        alive = pids
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        return alive

    for p in wait_gone(30):  # Python workers exit with the JVM
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    wait_gone(10)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    # temp files of this process, the JVM and the Python workers (plc's
    # py-files zip among them) stay inside the checkout
    os.environ["TMPDIR"] = work
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import plc.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import plc from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(work, "jvm-tmp"))
    # every JVM, the spark-submit launcher's included: temp files in the
    # checkout, and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"]))
    bench = Bench(args, work)
    try:
        metrics = bench.run()
    finally:
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    attempted, failed = bench.tally()
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": layer_unit(k) if args.trace
                           else E2E_UNITS[k]}
                       for k, v in metrics.items()}}
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from the suffix of its name."""
    for suffixes, unit in ((("_bytes",), "bytes"), ((".s", "_s"), "s"),
                           (("gbps_per_core",), "GB/s"),
                           (("_frac", "task_skew", "per_hit"), "ratio")):
        if name.endswith(suffixes):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
