"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload {olap_llm,keyed_rw}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One client in one process drives one
operation at a time on ``local[nproc]``.  The run generates its fixtures
(``datagen.py``), sets up (session start, registry load, input load and
one warm-up pass, timed as set-up and never sampled), then measures a
number of whole passes fixed by ``--seconds`` (``Bench.n_passes``).

Every operation's output is checked: each registry key's warm-up result
against its DuckDB-oracle fingerprint in ``fingerprints.json``, and
every ``keyed_rw`` read, plus the final table, against the workload's
model (``keyed_rw.py``).  A mismatch or an exception is a failed
operation; nothing is retried.

The next-to-last stdout line is the full record (host guard, failure
kinds, tail ranks, extra metrics); the last line is the summary object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 1`` a
second, traced window follows the untraced one in a restarted session
with Spark's event log on, and the metrics are the per-layer ones.
See README.md for what each metric means and which layer moves it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import hostinfo  # noqa: E402
import keyed_rw as kvw  # noqa: E402
from stats import TAIL_BEYOND, median, tail  # noqa: E402
from spans import NullTracer, Tracer, parse_event_log, self_times  # noqa: E402

# TPC-H-style and relational registry keys (operators layer)
OLAP_KEYS = (
    "q1_pricing_summary",
    "sql_q3_shipping_priority",
    "sql_q18_large_volume",
    "win_agg_frame",
    "sort_global",
)
# LLM data-pipeline registry keys (pipeline layer)
LLM_KEYS = (
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "text_winnow_fingerprint",
    "mm_image_phash_dedup",
)
# olap_llm: the read-only registry keys of both layers, one pass each
WORKLOADS = {"olap_llm": OLAP_KEYS + LLM_KEYS, "keyed_rw": kvw.PASS}
# (nominal seconds of one warm pass on a 4-core host, fewest passes per
# window: enough operations for steady order statistics and a tail)
NOMINAL_PASS = {
    "olap_llm": (7.5, 3),
    "keyed_rw": (10.0, 2),
}
SETUP_PARTS = ("session.start_s", "registry.load_all_s", "load_s", "warmup_s")
KV_EXTRA = tuple(
    f"keyed_rw.{k}"
    for k in ("write_p50_s", "write_tail_s", "read_p50_s", "read_tail_s",
              "stored_bytes_per_live_byte")
)
KEY_LAYERS = ("operators", "pipeline")
SPAN_LAYERS = ("operators", "pipeline", "sql_ddl", "table_store", "spark")


# --------------------------------------------------------------- checking
def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.10g}"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: list[str], rows) -> dict:
    """Order-insensitive fingerprint of a result: the sorted column names,
    the row count and a SHA-256 over the sorted canonical rows (floats to
    10 significant digits, columns in name order).  The canonical form is
    the one the engine's DuckDB parity harness compares, so a key that
    passes parity also matches its stored fingerprint."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(lines), "sha256": digest}


# ----------------------------------------------------------------- engine
class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.attempted = 0
        self.failures: list[dict] = []
        self.spark = None
        self.tracer = NullTracer()
        self.nproc = hostinfo.nproc()
        self.master = f"local[{self.nproc}]"
        self.fixtures = datagen.write_fixtures(os.path.join(WORK, "fixtures"))
        # keyed_rw write amplification, counted in the traced window only
        self.track_bytes, self.written_bytes, self.user_rows = False, 0, 0

    # ---- failures
    def attempt(self, what: str, fn):
        """Run one operation; record an exception or a mismatch as a
        failure of that operation.  Returns fn's result, or None."""
        self.attempted += 1
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.failures.append(
                {"op": what, "kind": f"exception:{type(e).__name__}", "msg": str(e)[:300]}
            )
            return None
        return out

    def mismatch(self, what: str, detail: str) -> None:
        self.failures.append({"op": what, "kind": "mismatch", "msg": detail[:300]})

    # ---- session
    def conf(self, traced: bool) -> dict:
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # no JVM writes outside the checkout: temp files under the
            # work dir, performance counters kept in memory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={WORK}/tmp -XX:+PerfDisableSharedMem"
            ),
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self, traced: bool = False):
        from hivekudu_handler_spark.session import get_spark

        self.spark = get_spark("perfbench", master=self.master, extra_conf=self.conf(traced))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_group(self, gid) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", gid)

    def persisted_frames(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    # ---- registry-key workloads
    def key_order(self, p: int) -> list[str]:
        keys = list(WORKLOADS[self.workload])
        random.Random(self.args.seed * 1000 + p).shuffle(keys)
        return keys

    def run_key(self, name: str, collect: bool = False):
        spec = self.specs[name]
        layer = spec.fn.__module__.split(".")[1]
        tr = self.tracer
        with tr.span("op", "key", key=name, layer_of_op=layer):
            with tr.span(layer, "build", key=name):
                df = spec.fn(self.spark, self.fixtures)
            with tr.span(layer, "execute", key=name):
                if collect:
                    return df.columns, df.collect()
                df.write.format("noop").mode("overwrite").save()
        return None

    def warm_keys(self) -> None:
        with open(os.path.join(HERE, "fingerprints.json"), encoding="utf-8") as f:
            expected = json.load(f)["keys"]
        for name in self.key_order(-1):
            out = self.attempt(name, lambda: self.run_key(name, collect=True))
            if out is None:
                continue
            got = fingerprint(*out)
            if got != expected.get(name):
                self.mismatch(name, f"fingerprint {got} != oracle {expected.get(name)}")

    def key_pass(self, p: int) -> list[tuple[str, bool, float]]:
        """One pass; a sample is (kind, is_write, seconds) per passed op."""
        out = []
        for name in self.key_order(p):
            t0 = time.perf_counter()
            if self.attempt(name, lambda: self.run_key(name) or True):
                out.append((name, False, time.perf_counter() - t0))
        return out

    # ---- keyed_rw
    def load_kv(self) -> None:
        from hivekudu_handler_spark.sources import sql_ddl
        from hivekudu_handler_spark.sources.table_store import TableStore

        self.sql = sql_ddl.sql
        self.store = TableStore(self.spark, os.path.join(WORK, "warehouse"))
        orders = self.spark.read.parquet(os.path.join(self.fixtures, "orders.parquet"))
        orders.createOrReplaceTempView("bench_orders")
        self.sql(self.store, kvw.CREATE_SQL)
        self.sql(self.store, kvw.LOAD_SQL)

    def wrap_store(self) -> None:
        """Put every public TableStore method of this store instance in a
        table_store span, so calls from sql_ddl (and from the store into
        itself) are timed and carry their own job group."""
        from hivekudu_handler_spark.sources.table_store import TableStore

        for name, attr in vars(TableStore).items():
            if not name.startswith("_") and callable(attr):
                setattr(
                    self.store,
                    name,
                    self.tracer.wrap(getattr(self.store, name), "table_store", name),
                )

    def init_model(self) -> None:
        """The model starts from the same orders rows the load inserts."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.fixtures, "orders.parquet")).to_pydict()
        cols = [t[c] for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")]
        self.model = kvw.Model({k: tuple(row) for k, *row in zip(t["o_orderkey"], *cols)})
        self.gen = kvw.Generator(self.args.seed, self.model)

    def kv_op(self, op: kvw.Op):
        tr = self.tracer
        with tr.span("op", op.kind, write=op.is_write):
            with tr.span("sql_ddl", "sql"):
                df = self.sql(self.store, op.sql)
            if df is None:
                return None
            with tr.span("spark", "collect"):
                return [tuple(r) for r in df.collect()]

    def kv_pass(self, p: int) -> list[tuple[str, bool, float]]:
        out = []
        for kind in self.gen.pass_ops():
            op = self.gen.make(kind)
            before = self.warehouse_files() if self.track_bytes else None
            t0 = time.perf_counter()
            rows = self.attempt(kind, lambda: self.kv_op(op) or [])
            dt = time.perf_counter() - t0
            if rows is None:
                continue
            if op.is_write:
                self.model.apply(op)
                if before is not None:
                    added = set(self.warehouse_files().items()) - set(before.items())
                    self.written_bytes += sum(size for _, size in added)
                    self.user_rows += len(op.changes)
            elif kvw.canon(rows) != op.expect:
                self.mismatch(kind, f"{op.sql[:120]}: got {rows[:3]} want {op.expect[:3]}")
                continue
            out.append((kind, op.is_write, dt))
        return out

    def warehouse_files(self) -> dict[str, int]:
        sizes = {}
        for d, _, files in os.walk(os.path.join(WORK, "warehouse", kvw.TABLE)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    sizes[p] = os.path.getsize(p)
        return sizes

    def check_kv_table(self) -> None:
        def final():
            got = [tuple(r) for r in self.store.scan(kvw.TABLE).select(*kvw.COLUMNS).collect()]
            return kvw.canon(got)

        rows = self.attempt("final_table", final)
        want = kvw.canon((k, *r) for k, r in self.model.rows.items())
        if rows is not None and rows != want:
            self.mismatch("final_table", f"{len(rows)} rows vs model {len(want)}")

    def kv_storage(self) -> dict:
        live = self.store.scan(kvw.TABLE).inputFiles()
        live_bytes = sum(os.path.getsize(p.replace("file://", "")) for p in live)
        disk = sum(self.warehouse_files().values())
        versions = self.store.history(kvw.TABLE).count()
        return {
            "live_files": len(live),
            "live_bytes": live_bytes,
            "disk_bytes": disk,
            "versions": versions,
            "live_rows": len(self.model.rows),
        }

    # ---- phases
    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        from hivekudu_handler_spark.registry import load_all

        self.specs = load_all()
        t2 = time.perf_counter()
        if self.workload == "keyed_rw":
            self.load_kv()
        t3 = time.perf_counter()
        self.warm_up()
        t4 = time.perf_counter()
        return {
            "setup_s": t4 - t0,
            "session.start_s": t1 - t0,
            "registry.load_all_s": t2 - t1,
            "load_s": t3 - t2,
            "warmup_s": t4 - t3,
        }

    def warm_up(self) -> None:
        if self.workload == "keyed_rw":
            self.kv_pass(-1)
        else:
            self.warm_keys()

    def one_pass(self, p: int):
        return self.kv_pass(p) if self.workload == "keyed_rw" else self.key_pass(p)

    def n_passes(self) -> int:
        """Whole passes per window: --seconds over the workload's nominal
        pass time, rounded up, and no fewer than its minimum.  A count
        fixed by the arguments, not by the clock, gives every run the
        same multiset of operation kinds."""
        nominal, fewest = NOMINAL_PASS[self.workload]
        return max(math.ceil(self.args.seconds / nominal), fewest)

    def measure(self, first_pass: int, passes: int) -> dict:
        samples: list[tuple[str, bool, float]] = []
        persisted = []
        attempted0 = self.attempted
        cpu0 = hostinfo.cpu_snapshot(self.jvm_pid)
        t0 = time.perf_counter()
        walls = []
        for p in range(first_pass, first_pass + passes):
            tp = time.perf_counter()
            samples += self.one_pass(p)
            walls.append(time.perf_counter() - tp)
            persisted.append(self.persisted_frames())
        wall = time.perf_counter() - t0
        cpu1 = hostinfo.cpu_snapshot(self.jvm_pid)
        return {
            "samples": samples,
            "wall_s": wall,
            "pass_walls_s": walls,
            "attempted": self.attempted - attempted0,
            "persisted_max": max(persisted),
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        }

    @property
    def jvm_pid(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def restart_traced(self) -> None:
        """Restart the session with the event log on and spans recording."""
        from hivekudu_handler_spark.sources.table_store import TableStore

        self.spark.stop()
        self.start_session(traced=True)
        if self.workload == "keyed_rw":
            self.store = TableStore(self.spark, os.path.join(WORK, "warehouse"))
        self.one_pass(-2)  # settle the new session, untraced
        self.tracer = Tracer(self.set_group)
        if self.workload == "keyed_rw":
            self.wrap_store()
        self.track_bytes = True

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        pids = hostinfo.descendants(proc.pid) if proc else []
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        hostinfo.wait_gone(pids, timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------- metrics
def e2e_metrics(setups: dict, m: dict, rss_mb: float) -> dict:
    lat = [s[2] for s in m["samples"]]
    t = tail(lat)
    return {
        "setup_s": setups["setup_s"],
        "ops_per_s": m["attempted"] / m["wall_s"],
        "op_p50_s": median(lat),
        "op_tail_s": t["value"],
        "peak_rss_mb": rss_mb,
    }, t


def kv_extra(m: dict, storage: dict | None) -> dict:
    """Write and read latencies of keyed_rw.  A class with too few samples
    for the tail rule reports its maximum as the tail, at rank n of n."""
    out = {}
    for label, want in (("write", True), ("read", False)):
        lat = [s[2] for s in m["samples"] if s[1] is want]
        t = tail(lat) if len(lat) > TAIL_BEYOND else {"value": max(lat), "rank": len(lat)}
        out[f"keyed_rw.{label}_p50_s"] = median(lat)
        out[f"keyed_rw.{label}_tail_s"] = t["value"]
        out[f"keyed_rw.{label}_tail_rank"] = f"{t['rank']}/{len(lat)}"
    if storage:
        out["keyed_rw.stored_bytes_per_live_byte"] = storage["disk_bytes"] / max(
            1, storage["live_bytes"]
        )
    return out


def host_metrics(m: dict, nproc: int) -> dict:
    c = m["cpu"]
    total = c["driver_cpu_s"] + c["jvm_cpu_s"] + c["pyworker_cpu_s"]
    return {
        "host.driver_cpu_s": c["driver_cpu_s"],
        "host.jvm_cpu_s": c["jvm_cpu_s"],
        "host.pyworker_cpu_s": c["pyworker_cpu_s"],
        "host.cpu_util": total / (m["wall_s"] * nproc),
        "host.steal_s": c["steal_s"],
    }


def per_kind(samples) -> dict:
    kinds: dict[str, list[float]] = {}
    for kind, _, dt in samples:
        kinds.setdefault(kind, []).append(dt)
    return {k: median(v) for k, v in sorted(kinds.items())}


def layer_metrics(b: Bench, spans, groups, tm: dict, storage) -> dict:
    """Per-layer metrics of the traced window, per operation."""
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}

    def op_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    ops = [s for s in spans if s.layer == "op"]
    grp = lambda s, k: groups.get(s.id, {}).get(k, 0)  # noqa: E731
    out: dict[str, float] = {}

    def per(values: list[float], n: int) -> float:
        return sum(values) / n if n else 0.0

    # build / execute split of the registry keys
    for layer in KEY_LAYERS:
        keyed = [o for o in ops if o.attrs.get("layer_of_op") == layer]
        n = len(keyed)
        for kind in ("build", "execute"):
            ss = [s for s in spans if s.layer == layer and s.kind == kind]
            out[f"{layer}.{kind}_s"] = per([selfs[s.id] for s in ss], n)
            out[f"{layer}.{kind}_jobs"] = per([grp(s, "jobs") for s in ss], n)
        ex = [s for s in spans if s.layer == layer and s.kind == "execute"]
        out[f"{layer}.execute_tasks"] = per([grp(s, "tasks") for s in ex], n)
        keys = OLAP_KEYS if layer == "operators" else LLM_KEYS
        for key in keys:
            for kind in ("build", "execute"):
                v = [s.duration for s in spans if s.layer == layer and s.kind == kind
                     and s.attrs.get("key") == key]
                out[f"{layer}.{key}.{kind}_s"] = median(v) if v else 0.0
    n_pipe = sum(1 for o in ops if o.attrs.get("layer_of_op") == "pipeline")
    pyworker_cpu = tm["cpu"]["pyworker_cpu_s"]
    out["pipeline.python_worker_cpu_s"] = pyworker_cpu / n_pipe if n_pipe else 0.0

    # keyed_rw: sql front end, table store, result collect
    writes = [o for o in ops if o.attrs.get("write") is True]
    reads = [o for o in ops if o.attrs.get("write") is False]
    kv_ops = writes + reads
    sqls = [s for s in spans if s.layer == "sql_ddl"]
    out["sql_ddl.self_s"] = per([selfs[s.id] for s in sqls], len(kv_ops))
    out["sql_ddl.jobs"] = per([grp(s, "jobs") for s in sqls], len(kv_ops))
    ts = [s for s in spans if s.layer == "table_store"]
    for label, group in (("write", writes), ("read", reads)):
        ids = {o.id for o in group}
        mine = [s for s in ts if op_of(s).id in ids]
        out[f"table_store.{label}_s"] = per([selfs[s.id] for s in mine], len(group))
        out[f"table_store.jobs_per_{label}"] = per([grp(s, "jobs") for s in mine], len(group))
    out["table_store.calls"] = float(len(ts))
    out["sql_ddl.calls"] = float(len(sqls))
    read_ids = {o.id for o in reads}
    collects = [s for s in spans if s.layer == "spark" and op_of(s).id in read_ids]
    out["spark.collect_s"] = per([s.duration for s in collects], len(reads))
    for k in ("live_files", "disk_bytes", "versions"):
        out[f"table_store.{k}"] = float(storage[k]) if storage else 0.0
    user_bytes = (
        b.user_rows * storage["live_bytes"] / max(1, storage["live_rows"]) if storage else 0
    )
    out["table_store.bytes_written_per_user_byte"] = (
        b.written_bytes / user_bytes if user_bytes else 0.0
    )

    # executor-side cost per layer, from the event log
    n_ops = len(ops)
    for layer in SPAN_LAYERS:
        ss = [s for s in spans if s.layer == layer]
        for k in ("shuffle_write_bytes", "spill_bytes", "executor_cpu_s"):
            out[f"{layer}.{k}"] = per([grp(s, k) for s in ss], n_ops)
    out["cache.persisted_frames_max"] = float(tm["persisted_max"])
    return out


# ------------------------------------------------------------------- main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the engine from the checkout; Spark's scratch
    # space stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # the short-lived JVM spark-submit runs to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hivekudu_handler_spark.registry  # noqa: F401
        import hivekudu_handler_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    prepare_env()
    host = hostinfo.host_record()
    b = Bench(args)
    if args.workload == "keyed_rw":
        b.init_model()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        setups = b.setup()
        host["java"] = b.spark._jvm.java.lang.System.getProperty("java.version")
        m = b.measure(first_pass=0, passes=b.n_passes())
        storage = None
        if args.workload == "keyed_rw":
            b.check_kv_table()
            storage = b.kv_storage()
        rss_mb = hostinfo.peak_rss_mb(b.jvm_pid)
        e2e, t = e2e_metrics(setups, m, rss_mb)
        record.update(
            setup=setups,
            untraced={"ops": len(m["samples"]), "pass_walls_s": m["pass_walls_s"],
                      "per_kind_p50_s": per_kind(m["samples"])},
            tail={k: t[k] for k in ("rank", "n", "percentile")},
            e2e=e2e,
            host_cpu=host_metrics(m, b.nproc),
        )
        if args.workload == "keyed_rw":
            record["keyed_rw"] = kv_extra(m, storage)
            record["storage"] = storage
        if args.trace:
            b.restart_traced()
            tm = b.measure(first_pass=1000, passes=1)
            storage_end = None
            if args.workload == "keyed_rw":
                b.check_kv_table()
                storage_end = b.kv_storage()
            app_id = b.spark.sparkContext.applicationId
            b.spark.stop()  # flushes and closes the event log
            groups = parse_event_log(os.path.join(WORK, "eventlog", app_id))
            per_layer = {k: setups[k] for k in SETUP_PARTS}
            per_layer.update(record["host_cpu"])
            per_layer.update(layer_metrics(b, b.tracer.spans, groups, tm, storage_end))
            # the traced pass runs later in the JVM's life than the
            # untraced window (warmer JIT), so the ratio is approximate
            traced_ops_per_s = tm["attempted"] / tm["wall_s"]
            per_layer["trace.ops_per_s_traced"] = traced_ops_per_s
            per_layer["trace.ops_per_s_untraced"] = e2e["ops_per_s"]
            per_layer["trace.overhead_ratio"] = e2e["ops_per_s"] / traced_ops_per_s
            kv = record.get("keyed_rw", {})
            for k in KV_EXTRA:
                per_layer[k] = kv.get(k, 0.0)
            record["per_layer"] = per_layer
    except Exception as e:  # noqa: BLE001 - a crash is a failed run, not a result
        b.shutdown()
        print(f"perfbench: run aborted: {type(e).__name__}: {e}", file=sys.stderr)
        return 3
    b.shutdown()
    host["loadavg_end"] = os.getloadavg()
    record["host"] = host
    record["attempted"] = b.attempted
    record["failed"] = len(b.failures)
    record["failed_ops_frac"] = len(b.failures) / b.attempted
    record["failures"] = b.failures[:20]
    chosen = record["per_layer"] if args.trace else record["e2e"]
    summary = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": UNITS.get(k, _unit(k))} for k, v in chosen.items()},
    }
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(summary))
    return 0 if not b.failures else 1


UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_per_s_traced", "_per_s_untraced")):
        return "1/s"
    if name.endswith(("_ratio", "_per_user_byte", "_per_live_byte", "cpu_util")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
