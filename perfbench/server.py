"""Engine process: Spark session, engine tables and the native door.

Started by ``run.py``; speaks line-delimited JSON (stdout lines prefixed
with ``PERFBENCH``, commands on stdin).  It reports its set-up times, then
serves until told to stop.  For ``corpus_pipeline`` it also runs the
registry jobs itself, in one driver thread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.getcwd())  # the checkout root holds tensorbase_spark
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Recorder  # noqa: E402

DB = "perfbench"
INGEST_TABLE = "ingest"
PIPELINE_JOBS = ("dedup_minhash_lsh", "dedup_embedding_cosine", "sim_brute_force_topk",
                 "sim_ivfpq_indexed", "text_bm25_topk", "corpus_build_end_to_end")


def say(msg: dict) -> None:
    sys.stdout.write("PERFBENCH " + json.dumps(msg) + "\n")
    sys.stdout.flush()


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the process tree of ``pid``."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by the process tree of
    ``pid``, including exited children it has reaped."""
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Engine:
    """The system under test, in this process."""

    def __init__(self, args, rec: Recorder):
        self.args, self.rec = args, rec
        self.warehouse = os.environ["SPARK_GRAFT_WAREHOUSE"]
        t0 = time.perf_counter()
        from tensorbase_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup = {"session_s": time.perf_counter() - t0}
        if args.trace:
            self._install_wrappers()
        self.engine = self.server = None

    # -- set-up ---------------------------------------------------------------

    def build(self) -> None:
        t0 = time.perf_counter()
        if self.args.workload == "corpus_pipeline":
            self._redirect_index_dir()
        else:
            from tensorbase_spark.engine import TensorBaseEngine

            self.engine = TensorBaseEngine(self.spark)
            self.engine.sql(f"create database {DB}")
            self.engine.sql(f"use {DB}")
            if self.args.workload == "olap_wire":
                self._build_tpch()
            else:
                self.engine.sql(f"create table {INGEST_TABLE} (a UInt64, b UInt64) "
                                "partition by rem(a, 100)")
        t1 = time.perf_counter()
        self.setup["table_build_s"] = t1 - t0
        if self.engine is not None:
            from tensorbase_spark.sources.chnative import serve_native

            self.server, self.port = serve_native(self.engine)
        t2 = time.perf_counter()
        self.setup["server_start_s"] = t2 - t1
        self._warm_up()
        self.setup["warmup_s"] = time.perf_counter() - t2

    def _build_tpch(self) -> None:
        from olap import DDL, PARTITION

        for t, cols in DDL.items():
            src = os.path.join(self.args.inputs, f"{t}.parquet")
            self.spark.read.parquet(src).createOrReplaceTempView(f"{t}_src")
            part = f" partition by {PARTITION[t]}" if t in PARTITION else ""
            self.engine.sql(f"create table {t} ({cols}){part}")
            names = ", ".join(c.split()[0] for c in cols.split(", "))
            self.engine.sql(f"insert into {t} select {names} from {t}_src")

    def _warm_up(self) -> None:
        """Let lazy set-up finish before anything is timed: every olap op
        type once over the door (two connections, like the load); four blocks,
        both read types and an OPTIMIZE on a scratch ingest table.  The
        pipeline is measured cold."""
        if self.engine is None:
            return
        from tensorbase_spark.sources.chnative import NativeClient

        if self.args.workload == "olap_wire":
            from concurrent.futures import ThreadPoolExecutor

            from olap import variants

            sqls = [vs[0][0] for kind, vs in variants(self.args.seed).items()
                    if kind != "count_ch"]

            def run(part):
                with NativeClient(port=self.port) as c:
                    for sql in part:
                        c.execute(sql)

            with ThreadPoolExecutor(2) as ex:
                for f in [ex.submit(run, sqls[0::2]), ex.submit(run, sqls[1::2])]:
                    f.result()
            return
        from gen import ingest_block

        self.engine.sql("create table warm (a UInt64, b UInt64) partition by rem(a, 100)")
        with NativeClient(port=self.port) as c:
            for i in range(4):  # one whole OPTIMIZE cycle, as the window runs
                a, b = ingest_block(self.args.seed, i, stream=8)
                c.insert("warm", [("a", "UInt64", a), ("b", "UInt64", b)])
                c.execute("select count(*) as n, toInt64(sum(a)) as s from warm")
                c.execute("select count(*) as n, toInt64(sum(a)) as s from warm "
                          "where rem(a, 100) = 1")
            c.execute("optimize table warm")
        self.engine.sql("drop table warm")

    def _redirect_index_dir(self) -> None:
        """``sim_ivfpq_indexed`` keeps its index under /tmp; point it into
        this run's directory so the benchmark writes only inside the
        checkout and every run's pass trains the index afresh."""
        import tensorbase_spark.queries.pipeline as qp
        from tensorbase_spark.pipeline import similarity

        prefix = "/tmp/tbs_ivfpq_index"
        local = os.path.join(self.args.run_dir, "ivfpq_index")

        def redirect(fn):
            def wrapped(*a, **kw):
                a = [x.replace(prefix, local, 1) if isinstance(x, str)
                     and x.startswith(prefix) else x for x in a]
                return fn(*a, **kw)

            return wrapped

        qp._index_is_current = redirect(qp._index_is_current)
        qp._write_index_stamp = redirect(qp._write_index_stamp)
        similarity.build_ivfpq_index = redirect(similarity.build_ivfpq_index)
        similarity.ivfpq_search_indexed = redirect(similarity.ivfpq_search_indexed)

    # -- tracing --------------------------------------------------------------

    def _install_wrappers(self) -> None:
        import contextlib

        import tensorbase_spark.engine as eng_mod
        import tensorbase_spark.sources.chnative as cn

        rec = self.rec
        E = eng_mod.TensorBaseEngine
        track = E.track_query

        @contextlib.contextmanager
        def track_query(self_, query, query_id=None, *a, **kw):
            if not query_id:
                with track(self_, query, query_id, *a, **kw) as qid:
                    yield qid
                return
            with rec.op_scope(query_id), rec.span("door"):
                with track(self_, query, query_id, *a, **kw) as qid:
                    yield qid

        E.track_query = track_query
        eng_mod.translate_sql = rec.wrap("engine.translate", eng_mod.translate_sql)
        sql = E.sql

        def engine_sql(self_, command, *a, **kw):
            rec.add("engine.statements", 1)
            low = command.lstrip()[:8].lower()
            name = "engine.optimize" if low == "optimize" else "engine.dispatch"
            with rec.span(name):
                return sql(self_, command, *a, **kw)

        E.sql = engine_sql
        insert_df = E.insert_df
        wh = self.warehouse

        def engine_insert(self_, name, *a, **kw):
            path = os.path.join(wh, f"{DB}.db", name.split(".")[-1])
            n0, b0 = dir_files(path)
            with rec.span("engine.insert"):
                out = insert_df(self_, name, *a, **kw)
            n1, b1 = dir_files(path)
            rec.add("store.files_written", max(0, n1 - n0))
            rec.add("store.bytes_written", max(0, b1 - b0))
            return out

        E.insert_df = engine_insert
        cn._Conn._write_block = rec.wrap("chnative.ingest", cn._Conn._write_block)
        write_packet = cn.write_data_packet

        def write_data_packet(out, blk, *a, **kw):
            n0 = len(out)
            with rec.span("chnative.encode"):
                write_packet(out, blk, *a, **kw)
            if blk.nrows:
                rec.add("chnative.bytes_out", len(out) - n0)
                rec.add("chnative.blocks_out", 1)

        cn.write_data_packet = write_data_packet
        cn._rows_to_block = rec.wrap("chnative.encode", cn._rows_to_block)
        cn.read_data_packet_body = rec.wrap("chnative.decode", cn.read_data_packet_body)
        compress, decompress = cn.lz4_compress, cn.lz4_decompress

        def lz4_compress(data):
            with rec.span("chnative.lz4"):
                out = compress(data)
            rec.add("chnative.raw_bytes_out", len(data))
            rec.add("chnative.lz4_bytes_out", len(out))
            return out

        def lz4_decompress(src, raw_size):
            with rec.span("chnative.lz4"):
                out = decompress(src, raw_size)
            rec.add("chnative.bytes_in", len(src))
            return out

        cn.lz4_compress, cn.lz4_decompress = lz4_compress, lz4_decompress
        cn.city_hash_128 = rec.wrap("chnative.cityhash", cn.city_hash_128)
        block_iter = cn.df_to_block_iter

        def df_to_block_iter(df):
            header, it = block_iter(df)

            def gen():
                while True:
                    with rec.span("spark.fetch"):
                        blk = next(it, None)
                    if blk is None:
                        return
                    yield blk

            return header, gen()

        cn.df_to_block_iter = df_to_block_iter

    # -- corpus pipeline --------------------------------------------------------

    def pipeline(self, tag: str, only: list[str] | None = None) -> dict:
        """One pass over the registry jobs (or the ``only`` ones) in seeded
        order, each collected and hashed for the check.  The run's first
        pass is cold: it pays Python worker start, code generation and the
        IVF-PQ index build.  A pass of ``only`` jobs trains the index
        afresh."""
        import numpy as np

        from tensorbase_spark.oracle import value_hash
        from tensorbase_spark.queries import registry

        reg = registry()
        sc = self.spark.sparkContext
        order = np.random.default_rng([self.args.seed, 6]).permutation(len(PIPELINE_JOBS))
        names = [PIPELINE_JOBS[j] for j in order if only is None or PIPELINE_JOBS[j] in only]
        if only is not None:
            shutil.rmtree(os.path.join(self.args.run_dir, "ivfpq_index"), ignore_errors=True)
        t_pass = time.perf_counter()
        jobs = []
        for name in names:
            op = f"{tag}-{name}"
            self.spark.catalog.clearCache()
            sc.setLocalProperty("spark.jobGroup.id", f"{op}::pipeline")
            t0 = time.time()
            try:
                with self.rec.op_scope(op):
                    df = reg[name].fn(self.spark, self.args.inputs)
                    rows = [tuple(r) for r in df.collect()]
                    h = value_hash(rows, df.columns)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append({"job": name, "op": op, "start": t0, "end": time.time(),
                         "hash": h, "rows": len(rows)})
        return {"s": time.perf_counter() - t_pass, "jobs": jobs}

    # -- shutdown ---------------------------------------------------------------

    def store(self) -> dict:
        """Files and bytes of the workload's tables: the engine tables, or
        the corpus parquet the pipeline reads."""
        path = (self.args.inputs if self.engine is None
                else os.path.join(self.warehouse, f"{DB}.db"))
        n, size = dir_files(path)
        return {"table_files": n, "table_bytes": size}

    def stop(self) -> dict:
        out = {"peak_rss_mb": tree_peak_rss_mb(os.getpid()), "store": self.store()}
        if self.args.trace:
            import sparkstats

            path = os.path.join(self.args.run_dir, "trace.json")
            with open(path, "w") as f:
                json.dump({
                    "spans": self.rec.spans,
                    "counts": [[k[0], k[1], v] for k, v in self.rec.counts.items()],
                    "spark": sparkstats.collect(self.spark),
                }, f)
            out["trace_file"] = path
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        self.spark.stop()
        # end the JVM here and reap it, rather than leave it to exit after
        # this process (closing its stdin is how PySpark's gateway ends it)
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    rec = Recorder()
    eng = Engine(args, rec)
    eng.build()
    say({"event": "ready", "port": getattr(eng, "port", 0), "setup": eng.setup})
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "trace":
            rec.on = bool(cmd["on"])
            say({"event": "ok"})
        elif cmd["cmd"] == "pipeline":
            say({"event": "pipeline", **eng.pipeline(cmd["tag"], cmd.get("jobs"))})
        elif cmd["cmd"] == "stop":
            say({"event": "stopped", **eng.stop()})
            return 0
    eng.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
