#!/usr/bin/env python3
"""End-to-end benchmark of the sparkcodec engine.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 20 --trace 0

Run from the repository root.  One client drives one Spark session
(``local[N]``, N = usable cores) in a closed loop: each rep runs the
workload's ops back to back, and every op's output is checked.  The last
line of stdout is one JSON object ``{correct, attempted, failed, metrics}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see perfbench/README.md for the metric -> layer -> workload map).

Everything the run writes goes under ``.perfbench/`` in the current
directory: staged inputs, encoded outputs, Spark scratch and, with
``--trace 1``, the span file and the per-op self-time table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Spec:
    """One workload: its datasets (name -> rows: F1 rows generated, or
    the leading rows of a committed table slice), the dataset the queries
    run on, the columns the queries use, and the query rounds per rep."""

    name: str
    rows: dict[str, int]
    query_dataset: str
    key: str            # bloom column of the point lookups
    range_col: str      # stats column of the range scans
    pruned: list[str]   # projection of the pruned decode
    # query rounds per rep: a workload with two datasets fits half the
    # reps in a run, so it runs two rounds to keep four query samples
    query_rounds: int = 1


WORKLOADS = {
    "tokens": Spec("tokens", {"tokens": 16_000}, "tokens",
                   key="doc_id", range_col="n_tok", pruned=["doc_id", "n_tok"]),
    "tables": Spec("tables", {"lineitem": 200_000, "documents": 5_000}, "lineitem",
                   key="l_orderkey", range_col="l_shipdate",
                   pruned=["l_orderkey", "l_shipdate"], query_rounds=2),
}

BULK_OPS = ("encode", "builtin", "decode", "decode_write")
QUERY_OPS = ("lookup_hit", "lookup_miss", "range_scan", "pruned_decode")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


# ---------------------------------------------------------------- Spark

class Session:
    """Owns the Spark session and its JVM; ``close`` stops the JVM and
    waits for it to exit."""

    def __init__(self, work: str, trace: bool):
        self.work, self.trace, self.spark = work, trace, None
        self.slots = nproc()

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{self.slots}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "true" if self.trace else "false")
            .config("spark.ui.port", "0")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(self.slots))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def cpu_ticks() -> list[int]:
    """Aggregate CPU counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def python_worker_hwm_mb() -> float:
    """Peak resident set (VmHWM) over this process's Python descendants,
    i.e. the PySpark daemon and the workers it forked."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    best, todo = 0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


# ---------------------------------------------------------------- inputs

@dataclass
class State:
    """What set-up leaves for the timed reps."""

    src: dict[str, str] = field(default_factory=dict)        # dataset -> dir
    tables: dict = field(default_factory=dict)                # pyarrow source
    checksums: dict = field(default_factory=dict)             # dataset -> tuple
    pruned_checksum: tuple = ()
    query_dir: str = ""
    hits: list = field(default_factory=list)
    misses: list = field(default_factory=list)
    ranges: list = field(default_factory=list)
    raw_bytes: int = 0
    tokens: int = 0
    layout: dict = field(default_factory=dict)                # files, row groups
    setup_parts_s: dict = field(default_factory=dict)         # stage, checksum, pre_encode


def checksum(df, *col_sets):
    """(rows, xor, sum) of xxhash64 over each set of columns, all in one
    job: order-free, and the sum catches a duplicated row pair that the
    xor alone would not.  One set gives one tuple; several give a list."""
    from pyspark.sql import functions as F

    hs = [F.xxhash64(*[F.col(c) for c in cols]).alias(f"h{i}")
          for i, cols in enumerate(col_sets)]
    aggs = [F.count(F.lit(1))]
    for i in range(len(col_sets)):
        aggs += [F.bit_xor(f"h{i}"), F.sum(F.shiftright(f"h{i}", 20))]
    r = [int(v or 0) for v in df.select(*hs).agg(*aggs).collect()[0]]
    out = [(r[0], r[1 + 2 * i], r[2 + 2 * i]) for i in range(len(col_sets))]
    return out[0] if len(out) == 1 else out


def stage(spark, spec: Spec, seed: int, work: str) -> State:
    """Generate or load and stage the inputs, pre-encode the query table,
    and compute every expected answer from the raw input."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import data
    from sparkcodec.datagen import gen_rows
    from sparkcodec.engine import encode_to_parquet

    st = State()
    parts = st.setup_parts_s = dict.fromkeys(("stage", "checksum", "pre_encode"), 0.0)
    for name, rows in spec.rows.items():
        t0 = time.perf_counter()
        path = os.path.join(work, "src", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        if name == "tokens":
            # the rows synth_tokens(spark, rows, seed, 2 * nproc()) yields,
            # one file per partition, staged without a Spark job
            n_files = 2 * nproc()
            for p in range(n_files):
                ids = np.arange(p * rows // n_files, (p + 1) * rows // n_files)
                pq.write_table(pa.Table.from_batches([gen_rows(ids, seed)]),
                               os.path.join(path, f"part-{p:03d}.parquet"))
        else:
            t = data.load(name, rows, seed)
            # one row group: the engine must range-split it to parallelize
            pq.write_table(t, os.path.join(path, "part-0.parquet"),
                           row_group_size=len(t))
        st.src[name] = path
        tbl = pq.read_table(path)
        st.tables[name] = tbl
        st.raw_bytes += tbl.nbytes
        if "tokens" in tbl.column_names:
            st.tokens += pc.sum(pc.list_value_length(tbl.column("tokens"))).as_py()
        t1 = time.perf_counter()
        parts["stage"] += t1 - t0
        if name == spec.query_dataset:
            st.checksums[name], st.pruned_checksum = checksum(
                spark.read.parquet(path), tbl.column_names, spec.pruned)
        else:
            st.checksums[name] = checksum(spark.read.parquet(path), tbl.column_names)
        parts["checksum"] += time.perf_counter() - t1
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        st.layout[name] = {"files": len(files), "row_groups": sum(
            pq.ParquetFile(os.path.join(path, f)).num_row_groups for f in files)}

    t0 = time.perf_counter()
    qd = spec.query_dataset
    st.query_dir = os.path.join(work, "query", qd)
    shutil.rmtree(st.query_dir, ignore_errors=True)
    encode_to_parquet(spark, st.src[qd], st.query_dir,
                      bloom_columns=(spec.key,), stat_columns=(spec.range_col,),
                      split_payload=True).collect()
    parts["pre_encode"] = time.perf_counter() - t0

    rng = np.random.default_rng([seed, 10])
    src = st.tables[qd]
    keys = src.column(spec.key)
    n = 64  # more than any run consumes
    st.hits = keys.take(rng.integers(0, len(keys), size=n)).to_pylist()
    if spec.key == "doc_id":  # ids past the generated range never occur
        st.misses = [f"web-{len(keys) + int(i):012d}"
                     for i in rng.integers(0, 10**6, size=n)]
    else:  # in-range order keys the slice does not hold
        held = set(keys.to_pylist())
        lo, hi = pc.min(keys).as_py(), pc.max(keys).as_py()
        while len(st.misses) < n:
            k = int(rng.integers(lo, hi))
            if k not in held:
                st.misses.append(k)
    vals = src.column(spec.range_col).cast("int64").to_numpy()
    for lo in rng.choice(vals, size=64):
        if spec.range_col == "l_shipdate":  # a two-day window
            import datetime as dt

            lo_v = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(lo))
            st.ranges.append((lo_v, lo_v + dt.timedelta(days=2)))
        else:
            st.ranges.append((int(lo), int(lo) + 2))
    return st


# ---------------------------------------------------------------- checks

class CheckFailed(Exception):
    pass


def same_rows(got, want):
    """Raise unless two Arrow tables hold the same rows in any order."""
    import pyarrow as pa

    got = pa.table({c: got.column(c) for c in want.column_names}).cast(want.schema)
    if got.num_rows != want.num_rows:
        raise CheckFailed(f"{got.num_rows} rows, expected {want.num_rows}")
    by = [(f.name, "ascending") for f in want.schema
          if not pa.types.is_nested(f.type)]  # list columns cannot be keys
    if not got.sort_by(by).equals(want.sort_by(by)):
        raise CheckFailed("row contents differ from the source")


def expected_rows(tbl, col, lo, hi=None):
    import pyarrow.compute as pc

    c = tbl.column(col)
    if hi is None:
        return tbl.filter(pc.equal(c, lo))
    return tbl.filter(pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi)))


# ---------------------------------------------------------------- the loop

class Runner:
    """Runs, times and checks ops; failures are counted and printed."""

    def __init__(self, sess: Session, spec: Spec, st: State, work: str,
                 spark_tracer=None):
        self.sess, self.spec, self.st, self.work = sess, spec, st, work
        self.spark_tracer = spark_tracer
        self.attempted = self.failed = 0
        self.times: dict[str, list[float]] = {k: [] for k in BULK_OPS + QUERY_OPS}
        self.by_dataset: dict[str, list[float]] = {}
        self.ratios: list[float] = []
        self.sizes: dict[str, int] = {}
        self.rss = 0.0
        self.q = 0  # index into the seeded query sequences
        self.n_rep = 0  # reps run so far, the warm-up included
        self.steal_frac = 0.0

    def op(self, label: str, fn, check=None, on: str = "") -> float:
        """Time ``fn()``, then ``check(result)`` untimed.  An exception or a
        failed check counts the op as failed and is printed, never dropped."""
        self.attempted += 1
        if self.spark_tracer is not None:
            self.spark_tracer.begin(label)
        t0 = time.perf_counter()
        dt = None
        try:
            out = fn()
            dt = time.perf_counter() - t0
            if check is not None:
                check(out)
        except Exception:  # noqa: BLE001 -- counted and reported below
            self.failed += 1
            print(f"FAILED op {label} on {on}:\n{traceback.format_exc()}",
                  file=sys.stderr)
        finally:
            if dt is None:  # fn raised: time it to the failure
                dt = time.perf_counter() - t0
            if self.spark_tracer is not None:
                self.spark_tracer.end(label, dt, self.n_rep)
        self.rss = max(self.rss, python_worker_hwm_mb())
        return dt

    def rep(self, timed: bool, rounds: int | None = None):
        """The bulk ops once on each dataset, then ``rounds`` rounds of one
        lookup hit, one lookup miss, one range scan and one pruned decode."""
        import pyarrow.parquet as pq

        from sparkcodec.engine import (decode_dataframe, decode_to_parquet,
                                       encode_to_parquet)

        spark, st, spec = self.sess.spark, self.st, self.spec
        self.n_rep += 1
        per = dict.fromkeys(BULK_OPS, 0.0)
        for name in st.src:
            src, tbl = st.src[name], st.tables[name]
            enc = os.path.join(self.work, "enc", name)
            blt = os.path.join(self.work, "builtin", name)
            dec = os.path.join(self.work, "dec", name)
            manifest, want, t = [], st.checksums[name], {}
            t["encode"] = self.op(
                "encode_to_parquet",
                lambda: manifest.extend(encode_to_parquet(spark, src, enc).collect()),
                on=name)
            self.sizes[f"payload.{name}"] = sum(r["bytes_out"] for r in manifest)
            t["builtin"] = self.op(
                "builtin_write",
                lambda: spark.read.parquet(src).write.mode("overwrite")
                .option("compression", "snappy").parquet(blt), on=name)

            def check_sum(got):
                if got != want:
                    raise CheckFailed(f"decode checksum {got} != source {want}")
            t["decode"] = self.op(
                "decode_dataframe",
                lambda: checksum(decode_dataframe(spark.read.parquet(enc)),
                                 tbl.column_names), check_sum, on=name)
            t["decode_write"] = self.op(
                "decode_to_parquet",
                lambda: decode_to_parquet(spark, enc, dec).collect(),
                lambda _: same_rows(pq.read_table(dec), tbl), on=name)
            for k in BULK_OPS:
                per[k] += t[k]
                if timed:
                    self.by_dataset.setdefault(f"{name}.{k}", []).append(t[k])
            self.sizes[f"stored.{name}"] = dir_bytes(enc)
            self.sizes[f"builtin.{name}"] = dir_bytes(blt)

        q_times = {k: [] for k in QUERY_OPS}
        for _ in range(self.spec.query_rounds if rounds is None else rounds):
            self.queries(q_times)

        if timed:
            for k in BULK_OPS:
                self.times[k].append(per[k])
            for k in QUERY_OPS:
                self.times[k].extend(q_times[k])
            self.ratios.append(per["encode"] / per["builtin"])

    def lookup(self, key, hit: bool) -> float:
        """One checked ``lookup_rows`` of ``key``; returns its time."""
        from sparkcodec.engine import lookup_rows

        spark, st, spec = self.sess.spark, self.st, self.spec
        want = expected_rows(st.tables[spec.query_dataset], spec.key, key)
        if hit != (want.num_rows > 0):
            raise RuntimeError(f"lookup key {key!r} misclassified (hit={hit})")
        return self.op(
            "lookup_rows",
            lambda: lookup_rows(spark.read.parquet(st.query_dir), spec.key, key).toArrow(),
            lambda got: same_rows(got, want), on=f"{key!r}")

    def queries(self, q_times: dict):
        """One lookup hit, one lookup miss, one range scan and one pruned
        decode on the query table, each key or range the next of its
        seeded sequence."""
        from sparkcodec.engine import decode_dataframe, range_scan_rows

        spark, st, spec = self.sess.spark, self.st, self.spec
        qd, src = spec.query_dataset, st.tables[spec.query_dataset]
        i, self.q = self.q % len(st.hits), self.q + 1
        q_times["lookup_hit"].append(self.lookup(st.hits[i], hit=True))
        q_times["lookup_miss"].append(self.lookup(st.misses[i], hit=False))
        lo, hi = st.ranges[i % len(st.ranges)]
        q_times["range_scan"].append(self.op(
            "range_scan_rows",
            lambda: range_scan_rows(spark.read.parquet(st.query_dir),
                                    spec.range_col, lo, hi).toArrow(),
            lambda got: same_rows(got, expected_rows(src, spec.range_col, lo, hi)),
            on=f"[{lo}, {hi}]"))

        def check_pruned(got):
            if got != st.pruned_checksum:
                raise CheckFailed(f"pruned checksum {got} != {st.pruned_checksum}")
        q_times["pruned_decode"].append(self.op(
            "decode_pruned",
            lambda: checksum(decode_dataframe(spark.read.parquet(st.query_dir),
                                              columns=spec.pruned), spec.pruned),
            check_pruned, on=qd))

    def warm_up(self):
        """One discarded rep of the bulk ops on every dataset (Spark
        compiles a plan per schema), and one lookup: a run's first query
        takes up to twice as long as the next, the others far less so."""
        self.rep(timed=False, rounds=0)
        self.lookup(self.st.hits[-1], hit=True)  # the timed keys start at 0
        if self.spark_tracer is not None:
            self.spark_tracer.reset()

    def loop(self, seconds: float) -> int:
        """Timed reps until ``seconds`` have passed; the rep in flight
        completes."""
        reps, t0, c0 = 0, time.perf_counter(), cpu_ticks()
        while reps == 0 or time.perf_counter() - t0 < seconds:
            self.rep(timed=True)
            reps += 1
        d = [b - a for a, b in zip(c0, cpu_ticks())]
        # share of this VM's CPU time the hypervisor gave to others: a
        # noisy neighbour shows here, not in the engine
        self.steal_frac = d[7] / max(sum(d), 1)
        return reps


END_TO_END = ("setup_s", "python_rss_mb", "ops_ok_frac", "encode_mbps",
              "encode_vs_builtin", "decode_mbps", "decode_write_mbps",
              "size_vs_parquet", "stored_bytes_ratio", "lookup_hit_p50_s",
              "lookup_miss_p50_s", "range_scan_p50_s", "pruned_decode_p50_s")


def end_to_end(r: Runner, st: State, setup_s: float) -> dict:
    mib = st.raw_bytes / 2**20

    def total(kind):
        return sum(v for k, v in r.sizes.items() if k.startswith(kind + "."))
    m = {
        "setup_s": (setup_s, "s"),
        "python_rss_mb": (r.rss, "MB"),
        "ops_ok_frac": (1.0 - r.failed / r.attempted, "frac"),
        "encode_mbps": (mib / median(r.times["encode"]), "MiB/s"),
        "encode_vs_builtin": (median(r.ratios), "ratio"),
        "decode_mbps": (mib / median(r.times["decode"]), "MiB/s"),
        "decode_write_mbps": (mib / median(r.times["decode_write"]), "MiB/s"),
        "size_vs_parquet": (total("payload") / total("builtin"), "ratio"),
        "stored_bytes_ratio": (total("stored") / st.raw_bytes, "ratio"),
        "lookup_hit_p50_s": (median(r.times["lookup_hit"]), "s"),
        "lookup_miss_p50_s": (median(r.times["lookup_miss"]), "s"),
        "range_scan_p50_s": (median(r.times["range_scan"]), "s"),
        "pruned_decode_p50_s": (median(r.times["pruned_decode"]), "s"),
    }
    return {k: {"value": m[k][0], "unit": m[k][1]} for k in END_TO_END}


def base_record(spec: Spec, st: State, seed: int, reps: int, r: Runner) -> dict:
    """Every denominator behind the reported ratios."""
    import numpy
    import pyarrow
    import pyspark

    hit = sorted(r.times["lookup_hit"])
    return {
        "workload": spec.name, "seed": seed, "master": f"local[{nproc()}]",
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__, "python": sys.version.split()[0]},
        "rows": {k: t.num_rows for k, t in st.tables.items()},
        "raw_arrow_bytes": st.raw_bytes, "tokens": st.tokens,
        "input_layout": st.layout,
        "timed_reps": reps, "samples": {k: len(v) for k, v in r.times.items()},
        "cpu_steal_frac": r.steal_frac,
        "bytes": r.sizes, "setup_parts_s": st.setup_parts_s,
        "lookup_hit_p90_s": hit[int(0.9 * (len(hit) - 1))] if hit else None,
        "times_s": r.times, "encode_vs_builtin_pairs": r.ratios,
        "bulk_s_by_dataset": r.by_dataset,
    }


# ---------------------------------------------------------------- main

def run(spec: Spec, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """One benchmark run; returns the result object (last stdout line)."""
    sess = Session(work, trace)
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        session_s = time.perf_counter() - t0
        spark_tracer = None
        if trace:
            from layers import SparkOpTracer

            spark_tracer = SparkOpTracer(spark.sparkContext, sess.slots)
        st = stage(spark, spec, seed, work)
        setup_s = time.perf_counter() - t0  # session start included
        r = Runner(sess, spec, st, work, spark_tracer)
        r.warm_up()
        reps = r.loop(seconds)
        base = base_record(spec, st, seed, reps, r)
        base["session_start_s"] = session_s
        attempted, failed = r.attempted, r.failed
        if trace:
            from layers import layer_metrics, unit_of

            m, ra, rf = layer_metrics(spec, st, spark_tracer, base,
                                      os.path.dirname(work), sess.slots)
            attempted, failed = attempted + ra, failed + rf
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
        else:
            metrics = end_to_end(r, st, setup_s)
        print(json.dumps({"base": base}, default=str))
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        sess.close()


def prepare_env(root: str) -> str:
    """Point every scratch location of this process, the JVM and the
    Python workers inside ``root/.perfbench``; returns the work dir."""
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkcodec", "engine.py")):
        print("perfbench: run from the repository root (sparkcodec/ not found)",
              file=sys.stderr)
        return 2
    work = prepare_env(root)
    # a terminated run still stops its JVM (Session.close, in finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(WORKLOADS[args.workload], args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
