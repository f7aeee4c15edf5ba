"""Repository benchmark: one seeded workload against the engine, from outside.

    python3 perfbench/run.py --workload olap_wire --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine and its native door run in one
process (``server.py``); this process is the load generator (at most two
connections).  It prints a human-readable report, then as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  See ``perfbench/README.md`` for what each number means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

from server import process_tree, tree_cpu_s  # noqa: E402

WORKLOADS = ("olap_wire", "ingest_mixed", "corpus_pipeline")
WORK = ".perfbench_work"
DRIVER_MEM = "2g"  # the session default (16g) exceeds small hosts' RAM
# G1 sizes the young generation between 5% and 60% of the heap from pause
# times, which swing with the host's CPU steal: peak RSS spread 0.17 between
# runs while live data stayed ~150 MB.  A fixed young generation leaves the
# heap to grow with what the engine retains (old and humongous regions)
YOUNG_GEN = "256m"
DEADLINE_S = 170  # a run that has not finished by then is killed and fails
OPTIMIZE_EVERY = 4  # ingest_mixed: OPTIMIZE TABLE after every 4th block
WINDOW_CAP_S = 120  # ingest_mixed: the writer stops here even mid-cycle
READ_TYPES = ("count_sum", "part_agg")  # ingest_mixed reads after every block
# latency and throughput are only reported, not in the JSON result: on a
# shared host whose CPU steal swings between 0 and 30% from minute to minute
# they spread 0.3-1.1 between runs, beyond any bound
REPORT_UNITS = {"op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s", "read_p50_ms": "ms"}


def declared_units(section: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares in ``section``
    (``end_to_end`` or ``per_layer``): the one list of what the JSON result
    carries."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def log(msg: str) -> None:
    print(msg, flush=True)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile; a failed op is ``inf`` and ranks slower than
    every success.  If the rank lands on a failure, the slowest success is
    reported (the report line says how many failures there were)."""
    if not samples:
        return 0.0
    s = sorted(samples)
    v = s[max(0, math.ceil(p / 100 * len(s)) - 1)]
    if math.isinf(v):
        finite = [x for x in s if not math.isinf(x)]
        return finite[-1] if finite else 0.0
    return v


def median(xs: list[float]) -> float:
    return percentile(xs, 50)


# -- calibration -------------------------------------------------------------


def calibration(run_dir: str) -> dict:
    """Fixed CPU and I/O probes, recorded as context with every run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    cpu_s = time.perf_counter() - t0
    path = os.path.join(run_dir, "io_probe.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(32):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    io_s = time.perf_counter() - t0
    os.remove(path)
    return {"cpu_probe_s": round(cpu_s, 4), "io_probe_32mb_s": round(io_s, 4)}


# -- engine process ----------------------------------------------------------


class Server:
    def __init__(self, args, inputs: str, run_dir: str, cpus: int):
        env = dict(os.environ)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no /tmp/hsperfdata_*
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                   f"-Xmn{YOUNG_GEN} -XX:-UsePerfData' pyspark-shell",
        })
        env.pop("OMP_NUM_THREADS", None)
        self.log = open(os.path.join(run_dir, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--inputs", inputs, "--run-dir", run_dir,
             "--trace", str(args.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True,
            env=env, cwd=os.getcwd())
        self.tree: set[int] = set()

    def recv(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                self.proc.wait()
                with open(self.log.name) as f:
                    tail = f.read()[-3000:]
                raise RuntimeError(f"engine process exited ({self.proc.returncode}):\n{tail}")
            if line.startswith("PERFBENCH "):
                return json.loads(line[len("PERFBENCH "):])

    def call(self, **cmd) -> dict:
        self.tree |= set(process_tree(self.proc.pid))  # the JVM is up by now
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def close(self) -> None:
        """Stop the engine process and wait until every process it started
        (the JVM, Python workers) has ended too."""
        tree = (self.tree | set(process_tree(self.proc.pid))) - {self.proc.pid}
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        deadline = time.time() + 20
        while True:
            alive = [p for p in tree if running(p)]
            if not alive:
                break
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)
        self.log.close()


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# -- load generator ----------------------------------------------------------


def client_class(rec):
    """NativeClient that sends a query id (the engine's job group key) and,
    when tracing, records the client's own decode time per op."""
    import socket

    import tensorbase_spark.sources.chnative as cn

    if rec is not None:
        cn.read_data_packet_body = rec.wrap("client.decode", cn.read_data_packet_body)

    class Client(cn.NativeClient):
        def __init__(self, **kw):
            super().__init__(**kw)
            # as stock ClickHouse clients do: without it the packet that
            # follows the query (or a data block) waits for the server's
            # delayed ACK, ~40 ms on Linux, before the server can begin
            self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

        def run(self, query: str, qid: str):
            """``execute`` with a query id: ([(col, type)], rows)."""
            self._send_query(query, qid)
            self._send_empty_block()
            schema, rows = [], []
            while True:
                code = self._r.read_varint()
                if code == cn.SERVER_DATA:
                    blk = cn.read_data_packet_body(self._r, self._compression)
                    if blk.columns and not schema:
                        schema = [(n, t) for n, t, _ in blk.columns]
                    if blk.nrows:
                        rows.extend(zip(*[c[2] for c in blk.columns]))
                elif code == cn.SERVER_END_OF_STREAM:
                    return schema, rows
                elif code == cn.SERVER_EXCEPTION:
                    raise self._read_exception()
                elif code == cn.SERVER_PROGRESS:
                    for _ in range(3):
                        self._r.read_varint()
                else:
                    raise ValueError(f"unexpected server packet {code}")

        def insert_block(self, table: str, columns: list, qid: str) -> None:
            """``insert`` with a query id: header, one data block, end."""
            names = ", ".join(c[0] for c in columns)
            self._send_query(f"INSERT INTO {table} ({names}) VALUES", qid)
            self._send_empty_block()
            code = self._r.read_varint()
            if code == cn.SERVER_EXCEPTION:
                raise self._read_exception()
            if code != cn.SERVER_DATA:
                raise ValueError(f"expected insert header, got packet {code}")
            cn.read_data_packet_body(self._r, self._compression)
            out = bytearray()
            cn.write_data_packet(out, cn.Block(columns, bucket=0), self._compression,
                                 server=False)
            self._send(out)
            self._send_empty_block()
            code = self._r.read_varint()
            if code == cn.SERVER_EXCEPTION:
                raise self._read_exception()
            if code != cn.SERVER_END_OF_STREAM:
                raise ValueError(f"expected end of stream, got packet {code}")

    return Client


class Load:
    """Closed-loop clients; every op is a dict with type, latency, outcome."""

    def __init__(self, port: int, seed: int, rec):
        self.port, self.seed, self.rec = port, seed, rec
        self.Client = client_class(rec)
        self.lock = threading.Lock()

    def timed(self, op: dict, fn):
        """Run ``fn`` as one op: records wall time and any error."""
        scope = self.rec.op_scope(op["qid"]) if self.rec else contextlib.nullcontext()
        op["t0"] = time.time()
        try:
            with scope:
                op["result"] = fn()
            op["ok"] = True
        except Exception as e:  # a failed op is data, not a crash
            op["ok"], op["error"] = False, (str(e).splitlines() or [repr(e)])[0][:200]
        op["t1"] = time.time()
        op["ms"] = (op["t1"] - op["t0"]) * 1e3
        return op

    def olap(self, seconds: float, tag: str) -> list[dict]:
        from olap import op_at, variants

        vs = variants(self.seed)
        ops: list[dict] = []
        counter = [0]
        end = time.time() + seconds

        def worker():
            with self.Client(port=self.port) as c:
                while time.time() < end:
                    with self.lock:
                        i = counter[0]
                        counter[0] += 1
                    kind, v = op_at(self.seed, i)
                    op = {"kind": kind, "variant": v, "qid": f"{tag}-{i:06d}", "read": True}
                    self.timed(op, lambda: c.run(vs[kind][v][0], op["qid"]))
                    with self.lock:
                        ops.append(op)

        run_threads(worker, worker)
        return ops

    def ingest(self, seconds: float, tag: str, state: dict) -> list[dict]:
        """Writer: seeded 8192-row blocks, OPTIMIZE after every 4th, for at
        least ``seconds`` and at least one OPTIMIZE cycle, ending right after
        an OPTIMIZE (so every window does whole cycles and leaves the table
        compacted); reader: after each acknowledged block, one
        count/sum and one single-partition aggregate (so a window's work is
        fixed), each bounded by the rows acknowledged before it was sent and
        after it returned."""
        import numpy as np

        from gen import block_partition_counts, ingest_block
        from server import INGEST_TABLE

        ops: list[dict] = []
        end, hard_end = time.time() + seconds, time.time() + WINDOW_CAP_S
        first = state["blocks"]
        writing = threading.Event()
        writing.set()

        def more() -> bool:
            whole = state["blocks"] > first and state["blocks"] % OPTIMIZE_EVERY == 0
            return time.time() < hard_end and (time.time() < end or not whole)

        def writer():
            try:
                with self.Client(port=self.port) as c:
                    write(c)
            finally:
                writing.clear()

        def write(c):
            while more():
                i = state["blocks"]
                a, b = ingest_block(self.seed, i)
                op = {"kind": "insert", "qid": f"{tag}-w{i:05d}", "read": False}
                self.timed(op, lambda: c.insert_block(
                    INGEST_TABLE, [("a", "UInt64", a), ("b", "UInt64", b)], op["qid"]))
                op.pop("result", None)
                ops.append(op)
                if not op["ok"]:
                    return  # the stream cannot continue past a lost block
                with self.lock:
                    state["blocks"] += 1
                    state["rows"] += len(a)
                    state["sum"] += sum(a)
                    state["parts"] += block_partition_counts(a)
                if state["blocks"] % OPTIMIZE_EVERY == 0:
                    op = {"kind": "optimize", "qid": f"{tag}-o{i:05d}", "read": False}
                    self.timed(op, lambda: c.run(f"optimize table {INGEST_TABLE}", op["qid"]))
                    op.pop("result", None)
                    ops.append(op)

        def reader():
            rng = np.random.default_rng([self.seed, 7])
            with self.Client(port=self.port) as c:
                n = 0
                while True:
                    with self.lock:
                        allowed = len(READ_TYPES) * (state["blocks"] - first)
                    if n >= allowed:
                        if not writing.is_set() and n >= len(READ_TYPES) * (
                                state["blocks"] - first):
                            return
                        time.sleep(0.005)
                        continue
                    kind = READ_TYPES[n % len(READ_TYPES)]
                    op = {"kind": kind, "qid": f"{tag}-r{n:05d}", "read": True}
                    if kind == "count_sum":
                        sql = (f"select count(*) as n, toInt64(sum(a)) as s "
                               f"from {INGEST_TABLE}")
                    else:
                        op["part"] = int(rng.integers(0, 100))
                        sql = (f"select count(*) as n, toInt64(sum(a)) as s from "
                               f"{INGEST_TABLE} where rem(a, 100) = {op['part']}")
                    with self.lock:
                        op["before"] = (state["rows"], state["sum"], state["parts"].copy())
                    self.timed(op, lambda: c.run(sql, op["qid"]))
                    with self.lock:
                        op["after"] = (state["rows"], state["sum"], state["parts"].copy())
                    ops.append(op)
                    n += 1

        run_threads(writer, reader)
        return ops


def run_threads(*fns) -> None:
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # surfaced after join
            errors.append(e)

    ts = [threading.Thread(target=guard, args=(f,), daemon=True) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join(DEADLINE_S)
    if errors:
        raise errors[0]
    if any(t.is_alive() for t in ts):
        raise RuntimeError("load thread did not finish")


# -- result checks -------------------------------------------------------------


def check_olap(ops: list[dict], expected: dict) -> None:
    from tensorbase_spark.oracle import value_hash

    for op in ops:
        if not op["ok"]:
            continue
        schema, rows = op.pop("result")
        want = expected[op["kind"]][op["variant"]]
        got = value_hash(rows, [n for n, _t in schema])
        op["rows"] = len(rows)
        if len(rows) != want["rows"] or got != want["hash"]:
            op["ok"], op["error"] = False, "wrong result"


def check_ingest(ops: list[dict]) -> None:
    for op in ops:
        if not op["ok"] or not op["read"]:
            op.pop("result", None)
            continue
        _schema, rows = op.pop("result")
        n, s = rows[0][0], rows[0][1] or 0  # sum over no rows is NULL
        (r0, s0, p0), (r1, s1, p1) = op.pop("before"), op.pop("after")
        if op["kind"] == "count_sum":
            ok = r0 <= n <= r1 and s0 <= s <= s1
        else:
            k = op["part"]
            ok = p0[k] <= n <= p1[k]
        op["rows"] = 1
        if not ok:
            op["ok"], op["error"] = False, "wrong result"


# -- corpus pipeline --------------------------------------------------------------


EXACT_JOBS = ("dedup_embedding_cosine", "sim_brute_force_topk", "text_bm25_topk",
              "corpus_build_end_to_end")
APPROX_JOBS = ("dedup_minhash_lsh", "sim_ivfpq_indexed")  # checked pass against pass


def embedding_pairs_hash(corpus_dir: str) -> str:
    """``DEDUP_EMB_ORACLE`` (all pairs with cosine >= 0.4, rounded to 6
    places) computed with NumPy: the SQL form takes minutes at this size.
    A BLAS product finds the candidates with a 1e-9 margin; their cosines
    are then recomputed with the dot products accumulated dimension by
    dimension in float64, the order of DuckDB's ``list_dot_product``."""
    import numpy as np
    import pyarrow.parquet as pq

    from tensorbase_spark.oracle import value_hash

    t = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    X = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)

    def seq_dot(a, b):
        acc = np.zeros(len(a))
        for d in range(X.shape[1]):
            acc += a[:, d] * b[:, d]
        return acc

    norms = np.sqrt(seq_dot(X, X))
    unit = X / norms[:, None]
    pa_, pb_ = [], []
    for lo in range(0, len(X), 1000):
        ia, ib = np.nonzero(unit[lo:lo + 1000] @ unit.T >= 0.4 - 1e-9)
        ia += lo
        keep = ids[ia] < ids[ib]
        pa_.append(ia[keep])
        pb_.append(ib[keep])
    ia, ib = np.concatenate(pa_), np.concatenate(pb_)
    cos = seq_dot(X[ia], X[ib]) / (norms[ia] * norms[ib])
    keep = cos >= 0.4
    rows = [(int(ids[a]), int(ids[b]), round(float(c), 6))
            for a, b, c in zip(ia[keep], ib[keep], cos[keep])]
    return value_hash(rows, ["id_a", "id_b", "cos"])


def corpus_expected(corpus_dir: str) -> dict:
    path = os.path.join(corpus_dir, "corpus_expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    from tensorbase_spark.oracle import value_hash
    from tensorbase_spark.queries import registry

    reg = registry()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{os.path.join(corpus_dir, t + '.parquet')}')")
    out = {"dedup_embedding_cosine": embedding_pairs_hash(corpus_dir)}
    for name in EXACT_JOBS[1:]:
        res = con.execute(reg[name].oracle)
        out[name] = value_hash(res.fetchall(), [d[0] for d in res.description])
    con.close()
    save_json(path, out)
    return out


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


def check_corpus(jobs: list[dict], expected: dict, approx: dict) -> list[dict]:
    """Exact jobs against their oracle; approximate jobs against their hash
    on the run's first pass (``approx``, filled in by that pass)."""
    ops = []
    for j in jobs:
        want = expected.get(j["job"]) or approx.setdefault(j["job"], j["hash"])
        op = {"kind": j["job"], "qid": j["op"], "read": True, "ok": j["hash"] == want,
              "t0": j["start"], "t1": j["end"], "ms": (j["end"] - j["start"]) * 1e3,
              "rows": j["rows"]}
        if not op["ok"]:
            op["error"] = "wrong result"
        ops.append(op)
    return ops


# -- metrics ---------------------------------------------------------------------


def latencies(ops: list[dict]) -> list[float]:
    return [op["ms"] if op["ok"] else math.inf for op in ops]


def span(ops: list[dict]) -> float:
    return max(op["t1"] for op in ops) - min(op["t0"] for op in ops)


def e2e_metrics(setup: dict, ops: list[dict], rss: float, cpu_s: float) -> dict:
    """The end-to-end metrics of one window.  The primary op is the INSERT
    on ingest_mixed and every op (a SELECT, a pipeline job) elsewhere."""
    primary = [op for op in ops if op["kind"] == "insert"] or ops
    reads = [op for op in ops if op["read"]]
    return {
        "setup_s": sum(setup.values()),
        "op_p50_ms": percentile(latencies(primary), 50),
        "op_p90_ms": percentile(latencies(primary), 90),
        "ops_per_s": sum(op["ok"] for op in primary) / span(ops),
        "read_p50_ms": percentile(latencies(reads), 50),
        "cpu_ms_per_op": cpu_s * 1e3 / len(ops),
        "peak_rss_mb": rss,
    }


def named_metrics(workload: str, ops: list[dict], store: dict,
                  state: dict) -> list[tuple[str, float, str, int]]:
    """The workload's own metric names, for the report: (name, value, unit, n)."""
    if workload == "corpus_pipeline":
        return [("pipeline_pass_s", span(ops), "s", 1)]
    sel = [op for op in ops if op["read"]]
    out = [("query_p50_ms", percentile(latencies(sel), 50), "ms", len(sel)),
           ("query_p90_ms", percentile(latencies(sel), 90), "ms", len(sel))]
    if workload == "olap_wire":
        return out + [("queries_per_s", sum(op["ok"] for op in sel) / span(ops), "1/s", len(sel))]
    ins = [op for op in ops if op["kind"] == "insert"]
    return out + [
        ("insert_p50_ms", percentile(latencies(ins), 50), "ms", len(ins)),
        ("insert_p90_ms", percentile(latencies(ins), 90), "ms", len(ins)),
        ("ingest_rows_per_s", state["rows_window"] / span(ops), "rows/s", len(ins)),
        ("stored_bytes_per_input_byte", store["table_bytes"] / max(1, state["rows"] * 16),
         "ratio", 1)]


# -- traced run ---------------------------------------------------------------------


LAYER_MS = ("engine.translate", "engine.dispatch", "engine.insert", "engine.optimize",
            "chnative.encode", "chnative.decode", "client.decode")


def layer_metrics(workload: str, trace: dict, client_spans: list, ops: list[dict],
                  setup: dict, store: dict, untraced: dict,
                  traced: dict) -> tuple[dict, list[str], bool]:
    """Per-layer metrics of the traced ops (means per op unless named
    otherwise), the report lines for them, and the coverage check."""
    from spans import COVERAGE_TOLERANCE, self_times

    roots = {op["qid"]: (op["t0"], op["t1"]) for op in ops}
    by_op: dict[str, list] = {q: [] for q in roots}
    for name, op, a, b in list(trace["spans"]) + client_spans:
        if op in by_op:
            by_op[op].append((name, a, b))
    spark = trace["spark"]
    jobs = [j for j in spark["jobs"] if j["op"] in by_op]
    for j in jobs:
        by_op[j["op"]].append(("spark.job", j["start"], j["end"]))
    execs = [e for e in spark["executions"] if e["op"] in by_op]
    counts: dict[str, float] = {}
    for name, op, v in trace["counts"]:
        if op in by_op:
            counts[name] = counts.get(name, 0.0) + v
    n = max(1, len(roots))
    selfs: dict[str, float] = {}
    coverage = []
    for q, root in roots.items():
        st = self_times(root, by_op[q])
        wall = root[1] - root[0]
        for k, v in st.items():
            selfs[k] = selfs.get(k, 0.0) + v
        if wall > 0:
            coverage.append(1 - st.get("unattributed", 0.0) / wall)
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [spark["stages"][str(s)] for s in stage_ids if str(s) in spark["stages"]]
    n_stages = len(stages)
    tasks = sum(s["tasks"] for s in stages)
    scan = {k: sum(e["scan"][k] for e in execs) for k in ("files", "rows", "bytes")}
    exec_cover = 0.0
    for q, (lo, hi) in roots.items():
        iv = sorted((max(lo, e["start"]), min(hi, e["end"])) for e in execs if e["op"] == q)
        end = lo
        for a, b in iv:
            if b > max(a, end):
                exec_cover += b - max(a, end)
                end = b
    wall_total = sum(hi - lo for lo, hi in roots.values())
    rows_out = sum(op.get("rows", 0) for op in ops)
    m = {
        "session.start_s": setup["session_s"],
        "engine.table_build_s": setup["table_build_s"],
        "engine.statements": counts.get("engine.statements", 0.0) / n,
        "spark.exec_ms": selfs.get("spark.job", 0.0) * 1e3 / n,
        "spark.fetch_ms": selfs.get("spark.fetch", 0.0) * 1e3 / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": n_stages / n,
        "spark.tasks": tasks / n,
        "spark.tasks_per_stage": tasks / max(1, n_stages),
        "spark.scan_files": scan["files"] / n,
        "spark.scan_rows": scan["rows"] / n,
        "spark.scan_bytes": scan["bytes"] / n,
        "spark.files_read_frac": scan["files"] / n / max(1, store["table_files"]),
        "spark.rows_out_per_row_scanned": rows_out / max(1.0, scan["rows"]),
        "spark.python_ms": sum(e["python_s"] for e in execs) * 1e3 / n,
        "spark.driver_pre_ms": (wall_total - exec_cover) * 1e3 / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n,
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages) / n,
        "spark.peak_exec_mem_bytes": max([s["peak_exec_mem_bytes"] for s in stages] or [0]),
        "chnative.bytes_out": counts.get("chnative.bytes_out", 0.0) / n,
        "chnative.blocks_out": counts.get("chnative.blocks_out", 0.0) / n,
        "chnative.compress_ratio": counts.get("chnative.raw_bytes_out", 0.0)
        / max(1.0, counts.get("chnative.lz4_bytes_out", 0.0)),
        "chnative.bytes_in": counts.get("chnative.bytes_in", 0.0) / n,
        "chnative.lz4_ms": selfs.get("chnative.lz4", 0.0) * 1e3 / n,
        "chnative.cityhash_ms": selfs.get("chnative.cityhash", 0.0) * 1e3 / n,
        "door.self_ms": selfs.get("door", 0.0) * 1e3 / n,
        "unattributed_ms": selfs.get("unattributed", 0.0) * 1e3 / n,
        "store.files_written": counts.get("store.files_written", 0.0) / n,
        "store.bytes_written": counts.get("store.bytes_written", 0.0) / n,
        "store.table_files": store["table_files"],
        "trace.ops": len(roots),
        "trace.coverage_frac": median(coverage),
        "trace.op_p50_ms": traced["op_p50_ms"],
        "trace.untraced_op_p50_ms": untraced["op_p50_ms"],
        "trace.overhead_frac": traced["op_p50_ms"] / untraced["op_p50_ms"] - 1,
        "trace.cpu_ms_per_op": traced["cpu_ms_per_op"],
        "trace.untraced_cpu_ms_per_op": untraced["cpu_ms_per_op"],
        "trace.cpu_overhead_frac": traced["cpu_ms_per_op"] / untraced["cpu_ms_per_op"] - 1,
    }
    for k in LAYER_MS:
        m[f"{k}_ms"] = selfs.get(k, 0.0) * 1e3 / n
    from server import PIPELINE_JOBS

    for job in PIPELINE_JOBS:
        m[f"pipeline.job_s.{job}"] = median([op["ms"] / 1e3 for op in ops if op["kind"] == job])
    lines = [
        f"trace: {len(roots)} ops traced; ms metrics are layer self time per op "
        f"(mean over {n} ops)",
        f"trace: overhead cpu_ms_per_op traced {traced['cpu_ms_per_op']:.1f} ms / untraced "
        f"{untraced['cpu_ms_per_op']:.1f} ms - 1 = {m['trace.cpu_overhead_frac']:+.3f}",
        f"trace: overhead op_p50 traced {traced['op_p50_ms']:.1f} ms / untraced "
        f"{untraced['op_p50_ms']:.1f} ms - 1 = {m['trace.overhead_frac']:+.3f} (includes "
        f"latency noise and, on ingest_mixed, the larger table of the later window)",
        f"trace: files read {scan['files']:.0f} / ({n} ops x {store['table_files']} table files)"
        f" = {m['spark.files_read_frac']:.4f}",
        f"trace: rows returned {rows_out} / rows scanned {scan['rows']:.0f} = "
        f"{m['spark.rows_out_per_row_scanned']:.6f}",
        f"trace: lz4 raw {counts.get('chnative.raw_bytes_out', 0):.0f} B / compressed "
        f"{counts.get('chnative.lz4_bytes_out', 0):.0f} B = {m['chnative.compress_ratio']:.3f}",
        f"trace: tasks {tasks} / stages {n_stages} = {m['spark.tasks_per_stage']:.2f}",
    ]
    ok = True
    if workload != "corpus_pipeline":
        need = 1 - COVERAGE_TOLERANCE
        ok = m["trace.coverage_frac"] >= need
        lines.append(f"trace: self-time coverage of the median op {m['trace.coverage_frac']:.3f}"
                     f" (unattributed {1 - m['trace.coverage_frac']:.3f}; tolerance "
                     f"{COVERAGE_TOLERANCE}) -> {'ok' if ok else 'FAILED'}")
    return m, lines, ok


# -- main -------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("tensorbase_spark", "engine.py")):
        print("perfbench: run from the repository root (tensorbase_spark/ not found)",
              file=sys.stderr)
        return 2
    from gen import ensure_inputs, input_sizes

    phases = {"start": time.time()}
    kind = {"olap_wire": "tpch", "corpus_pipeline": "corpus"}.get(args.workload)
    inputs = ensure_inputs(os.path.join(WORK, "inputs"), args.seed, kind) if kind else ""
    expected = None
    if args.workload == "olap_wire":
        from olap import expected as olap_expected

        expected = olap_expected(args.seed, inputs, inputs)
    elif args.workload == "corpus_pipeline":
        expected = corpus_expected(inputs)
    phases["inputs"] = time.time()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "SPARK_GRAFT_CPUS": cpus,
               "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM, **calibration(run_dir),
               "inputs": input_sizes(inputs) if inputs else {
                   "ingest_block": {"rows": 8192, "raw_bytes": 8192 * 16}},
               "working_set": "all inputs fit in memory; no out-of-cache workload yet"}
    log("context: " + json.dumps(context, sort_keys=True))
    server = Server(args, inputs, run_dir, cpus)
    killer = threading.Timer(DEADLINE_S, server.proc.kill)
    killer.daemon = True
    killer.start()
    try:
        result = drive(args, server, expected, phases)
    finally:
        killer.cancel()
        server.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["end"] = time.time()
    names = list(phases)
    result["lines"].append("phases: " + ", ".join(
        f"{b} {phases[b] - phases[a]:.1f} s" for a, b in zip(names, names[1:])))
    for line in result["lines"]:
        log(line)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def drive(args, server: Server, expected, phases: dict) -> dict:
    ready = server.recv()
    phases["setup"] = time.time()
    setup = ready["setup"]
    lines = ["setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup.items())]
    rec = None
    if args.trace:
        from spans import Recorder

        rec = Recorder()
    load = Load(ready["port"], args.seed, rec)
    state = {"blocks": 0, "rows": 0, "sum": 0}
    if args.workload == "ingest_mixed":
        import numpy as np

        state["parts"] = np.zeros(100, dtype=np.int64)
    corpus = args.workload == "corpus_pipeline"

    cpu: dict[str, float] = {}
    approx: dict[str, str] = {}

    def window(tag: str, traced: bool = False) -> list[dict]:
        if traced:
            server.call(cmd="trace", on=True)
            rec.on = True
        cpu0 = tree_cpu_s(server.proc.pid)
        if args.workload == "olap_wire":
            ops = load.olap(args.seconds, tag)
            check_olap(ops, expected)
        elif args.workload == "ingest_mixed":
            rows0 = state["rows"]
            ops = load.ingest(args.seconds, tag, state)
            state["rows_window"] = state["rows"] - rows0
            check_ingest(ops)
        else:
            jobs = server.call(cmd="pipeline", tag=tag)["jobs"]
            ops = check_corpus(jobs, expected, approx)
            lines.append(f"pass {tag}: " + ", ".join(
                f"{op['kind']} {op['ms'] / 1e3:.2f} s" for op in ops))
        cpu[tag] = tree_cpu_s(server.proc.pid) - cpu0
        for op in ops:
            op["window"] = tag
        if traced:
            server.call(cmd="trace", on=False)
            rec.on = False
        phases[tag] = time.time()
        return ops

    # the corpus run measures one cold pass (traced in a traced run: the
    # pipeline path crosses no wrapped call); a traced run then compares a
    # warm untraced and a warm traced pass for the overhead.  The wire
    # workloads measure an untraced window, then a traced one.
    ops = window("w1", traced=corpus and bool(args.trace))
    windows = [ops]
    if args.trace:
        base = ops if not corpus else window("w2")
        traced_ops = window("w3" if corpus else "w2", traced=True)
        layer_ops = ops if corpus else traced_ops
        windows += [base, traced_ops] if corpus else [traced_ops]
    if corpus:
        # the approximate jobs again, index trained afresh: the same seed
        # must give the same hashes as the measured pass
        jobs = server.call(cmd="pipeline", tag="check", jobs=APPROX_JOBS)["jobs"]
        windows.append(check_corpus(jobs, expected, approx))
        lines.append("pass check: " + ", ".join(
            f"{j['job']} {j['end'] - j['start']:.2f} s" for j in jobs))
        phases["check"] = time.time()
    if args.workload == "ingest_mixed":
        from server import INGEST_TABLE

        op = {"kind": "final_count_sum", "qid": "final", "read": False}
        with load.Client(port=ready["port"]) as c:
            load.timed(op, lambda: c.run(
                f"select count(*) as n, toInt64(sum(a)) as s from {INGEST_TABLE}", "final"))
        if op["ok"]:
            got = tuple(op.pop("result")[1][0])
            if got != (state["rows"], state["sum"]):
                op["ok"], op["error"] = False, "wrong result"
        windows.append([op])
    stopped = server.call(cmd="stop")
    phases["stop"] = time.time()
    store, rss = stopped["store"], stopped["peak_rss_mb"]
    all_ops = [op for w in windows for op in w]
    untraced = e2e_metrics(setup, ops, rss, cpu[ops[0]["window"]])
    for name, v, unit, n in named_metrics(args.workload, ops, store, state):
        lines.append(f"metric {name} = {v:.4f} {unit} (n={n})")
    by_kind: dict[str, list[int]] = {}
    for op in all_ops:
        c = by_kind.setdefault(op["kind"], [0, 0])
        c[0] += 1
        c[1] += not op["ok"]
    for k, (n, f) in sorted(by_kind.items()):
        errs = sorted({op.get("error", "") for op in all_ops if op["kind"] == k and not op["ok"]})
        lines.append(f"ops {k}: attempted {n}, failed {f}" + (f" ({errs[0]})" if errs else ""))
    attempted, failed = len(all_ops), sum(not op["ok"] for op in all_ops)
    lines.append(f"metric failed_frac = {failed / attempted:.4f} ratio (n={attempted})")
    correct = not any(op.get("error") == "wrong result" for op in all_ops)
    if args.trace:
        with open(stopped["trace_file"]) as f:
            trace = json.load(f)
        metrics, tlines, cover_ok = layer_metrics(
            args.workload, trace, rec.spans, layer_ops, setup, store,
            e2e_metrics(setup, base, rss, cpu[base[0]["window"]]),
            e2e_metrics(setup, traced_ops, rss, cpu[traced_ops[0]["window"]]))
        lines += tlines
        correct = correct and cover_ok
        units = declared_units("per_layer")
        if set(metrics) != set(units):
            raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(units))}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
    else:
        units = declared_units("end_to_end")
        metrics = {k: {"value": untraced[k], "unit": u} for k, u in units.items()}
        for k, v in untraced.items():
            gated = k in units
            lines.append(f"e2e {k} = {v:.4f} {units[k] if gated else REPORT_UNITS[k]}"
                         + ("" if gated else " (report only)"))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "lines": lines}


if __name__ == "__main__":
    raise SystemExit(main())
