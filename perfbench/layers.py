"""Per-layer measurements for ``run.py --trace 1``.

Two sources, both switched on only in the traced run:

* ``SparkOpTracer`` tags every timed op with its own Spark job group and,
  after the op, reads the op's stages and tasks from Spark's monitoring
  REST API: wall, task count, summed and slowest task time, and the
  derived dispatch (wall - critical-path tasks) and scheduling
  (wall - summed tasks / slots) overheads.
* ``replay`` re-runs one task's share of each dataset in this process
  through the engine's public task-side functions.  While it runs,
  ``Tracer`` wraps the public functions of each lower layer where its
  callers' modules bind them, so spans nest and a layer's self time is its
  spans' time minus that of their child spans.

Spans are held in memory and written out when the run ends.
"""

from __future__ import annotations

import importlib
import io
import json
import os
import statistics
import sys
import time
import traceback
import urllib.request
from collections import defaultdict

# layer -> module -> functions to wrap.  A name missing from a later
# version of the engine is reported under "unwrapped", not an error.
TARGETS = {
    "kernels": {
        "sparkcodec.kernels.fsst": ["fsst_encode", "train", "fsst_sample_gain",
                                    "fsst_decode"],
        "sparkcodec.kernels.rle": ["rle_hybrid_encode", "rle_hybrid_decode"],
        "sparkcodec.kernels.delta": ["delta_binary_pack", "delta_binary_unpack"],
        "sparkcodec.kernels.pfor": ["pfor_pack", "pfor_unpack", "delta_pfor_pack",
                                    "delta_pfor_unpack", "pfor_bits_per_value"],
        "sparkcodec.kernels.alp": ["alp_encode", "alp_decode", "alp_bits_per_value"],
        "sparkcodec.kernels.bitpack": ["unpack_bits_lsb"],
        "sparkcodec.kernels.dictionary": ["factorize"],
        "sparkcodec.kernels.bloom": ["build_bloom", "xxhash64_matrix"],
    },
    "selector": {
        "sparkcodec.selector": ["sample_numeric", "sample_binary",
                                "estimate_costs_numeric", "estimate_costs_binary",
                                "pick"],
    },
    "chunk": {
        # the private RANK and post-codec compression steps get spans of
        # their own so their self time is not lumped into the chunk layer
        "sparkcodec.chunk": ["encode_array", "decode_array", "_rank_encode",
                             "_rank_decode", "_compress", "_decompress"],
    },
    "engine": {
        "sparkcodec.engine": ["encode_chunk_group", "decode_chunk_group",
                              "group_may_contain"],
    },
}
SELECTOR_GROUP = {"sample_numeric": "sample", "sample_binary": "sample",
                  "estimate_costs_numeric": "estimate",
                  "estimate_costs_binary": "estimate", "pick": "estimate"}
KERNEL_FNS = [f for fns in TARGETS["kernels"].values() for f in fns]
REPLAY_OPS = ("read", "encode", "decode", "decode_write", "bloom_encode",
              "probe", "pruned_decode")
SPARK_OPS = ("encode_to_parquet", "builtin_write", "decode_dataframe",
             "decode_to_parquet", "lookup_rows", "range_scan_rows",
             "decode_pruned")
BULK_SPARK_OPS = SPARK_OPS[:4]
SPARK_FIELDS = ("wall_ms", "tasks", "task_sum_ms", "task_max_ms",
                "dispatch_ms", "sched_ms")


# Written to the self-time file but left off the result line: metrics
# that read 0 on one workload by construction, times and counts alike.
# F1 rows have no floats, so ALP never runs on tokens, and the selector
# picks neither FOR nor PLAIN there; the tables have no list columns, so
# the RANK list path never runs on them; neither workload picks the
# remaining codecs.
REPORT_ONLY = frozenset(
    [f"kernels.{f}{x}" for f in ("alp_encode", "alp_decode", "alp_bits_per_value")
     for x in ("_ms", ".calls")]
    + ["chunk.rank_encode_ms", "chunk.rank_decode_ms"]
    + [f"chunk.codec.{c}.count" for c in ("ALP", "FOR", "PLAIN", "RLE", "DELTA_BP",
                                         "DELTA_FOR", "BSS", "DELTA_LENGTH",
                                         "DELTA_BA")])


def unit_of(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("bytes_in") or metric.endswith("bytes_out"):
        return "bytes"
    if metric == "engine.admit_precision" or metric.startswith("trace.coverage."):
        return "frac"
    if metric == "engine.rows_per_group":
        return "rows"
    if metric == "trace.overhead":
        return "ratio"
    return "count"


class Tracer:
    """In-memory span recorder.  A span is (id, parent, layer, name, op,
    t0, t1); ``op`` is the replay op that was running."""

    def __init__(self):
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.op = ""
        self.codecs: dict[str, int] = defaultdict(int)
        self.chunk_bytes = [0, 0]  # encode_array input bytes, output bytes
        self.patches: list[tuple] = []
        self.unwrapped: list[str] = []

    def span(self, layer: str, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.sid = len(tracer.spans)
                tracer.spans.append(None)
                self.parent = tracer.stack[-1] if tracer.stack else -1
                tracer.stack.append(self.sid)
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                t1 = time.perf_counter()
                tracer.stack.pop()
                tracer.spans[self.sid] = (self.sid, self.parent, layer, name,
                                          tracer.op, self.t0, t1)
        return _Span()

    def _wrap(self, layer: str, name: str, fn):
        span = self.span

        if name == "encode_array":
            def wrapper(values, *a, **k):
                with span(layer, name):
                    blob, meta = fn(values, *a, **k)
                if self.op == "encode":  # not the bloom re-encode
                    self.codecs[meta["codec"]] += 1
                    self.chunk_bytes[0] += getattr(values, "nbytes", 0)
                    self.chunk_bytes[1] += len(blob)
                return blob, meta
        else:
            def wrapper(*a, **k):
                with span(layer, name):
                    return fn(*a, **k)
        return wrapper

    def install(self):
        """Wrap every target wherever a sparkcodec module binds it."""
        from sparkcodec.parquet import writer

        mods = [m for n, m in list(sys.modules.items())
                if n.startswith("sparkcodec") and m is not None]
        for layer, by_mod in TARGETS.items():
            for mod_name, fns in by_mod.items():
                mod = importlib.import_module(mod_name)
                for fn_name in fns:
                    orig = getattr(mod, fn_name, None)
                    if orig is None:
                        self.unwrapped.append(f"{mod_name}.{fn_name}")
                        continue
                    w = self._wrap(layer, fn_name, orig)
                    for m in mods:
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                self.patches.append((m, attr, orig))
                                setattr(m, attr, w)
        for meth in ("write", "finish"):
            orig = getattr(writer.ParquetWriter, meth)
            self.patches.append((writer.ParquetWriter, meth, orig))
            setattr(writer.ParquetWriter, meth, self._wrap("parquet", meth, orig))

    def uninstall(self):
        for obj, attr, orig in reversed(self.patches):
            setattr(obj, attr, orig)
        self.patches.clear()

    def self_times(self):
        """{(op, layer, name): [self seconds, calls]}"""
        child = defaultdict(float)
        for s in self.spans:
            if s[1] >= 0:
                child[s[1]] += s[6] - s[5]
        out: dict[tuple, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            acc = out[(s[4], s[2], s[3])]
            acc[0] += (s[6] - s[5]) - child[s[0]]
            acc[1] += 1
        return out


class NullTracer(Tracer):
    """The same replay with no wrappers installed: the untraced baseline."""

    def install(self):
        pass


# ---------------------------------------------------------------- Spark

class SparkOpTracer:
    """Per-op Spark task metrics from the monitoring REST API."""

    def __init__(self, sc, slots: int):
        self.sc, self.slots, self.n, self.group = sc, slots, 0, ""
        self.api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.records: dict[str, list[dict]] = defaultdict(list)

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def begin(self, label: str):
        self.n += 1
        self.group = f"perfbench-{self.n}"
        self.sc.setJobGroup(self.group, label)

    def end(self, label: str, wall_s: float, rep: int):
        """Record the op that ran since ``begin``, failed or not; ``rep``
        is the Runner rep it ran in."""
        tasks = crit = total = 0.0
        for jid in self.sc.statusTracker().getJobIdsForGroup(self.group):
            for sid in self._job(jid)["stageIds"]:
                durs = self._stage_tasks(sid)
                tasks += len(durs)
                total += sum(durs)
                crit += max(durs, default=0.0)
        wall = wall_s * 1000.0
        self.records[label].append({
            "rep": rep, "wall_ms": wall, "tasks": tasks, "task_sum_ms": total,
            "task_max_ms": crit, "dispatch_ms": wall - crit,
            "sched_ms": wall - total / self.slots})

    def _job(self, jid: int) -> dict:
        deadline = time.monotonic() + 10
        while True:  # the status store is fed asynchronously
            job = self._get(f"/jobs/{jid}")
            if job["status"] != "RUNNING" or time.monotonic() > deadline:
                return job
            time.sleep(0.02)

    def _stage_tasks(self, sid: int) -> list[float]:
        deadline = time.monotonic() + 10
        while True:
            attempts = self._get(f"/stages/{sid}")
            if all(a["status"] not in ("ACTIVE", "PENDING") for a in attempts) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        durs = []
        for a in attempts:
            if a["status"] == "SKIPPED":
                continue
            for t in self._get(f"/stages/{sid}/{a['attemptId']}/taskList"
                               "?length=100000"):
                durs.append(float(t.get("duration", 0)))
        return durs

    def reset(self):
        self.records.clear()

    def summary(self) -> dict:
        """Per op and field: for the bulk ops, which run once per dataset
        in a rep, the median over reps of the rep's total; for the queries,
        the median over calls."""
        out = {}
        for op in SPARK_OPS:
            recs = self.records.get(op, [])
            if op in BULK_SPARK_OPS:
                groups = defaultdict(list)
                for r in recs:
                    groups[r["rep"]].append(r)
                recs = list(groups.values())
            else:
                recs = [[r] for r in recs]
            for f in SPARK_FIELDS:
                vals = [sum(r[f] for r in g) for g in recs]
                out[f"spark.{op}.{f}"] = statistics.median(vals) if vals else 0.0
        return out


# ---------------------------------------------------------------- replay

def _windows(tbl, chunk_rows: int, budget: int):
    """Row windows bounded by rows and list elements, as the engine's
    encode loop cuts them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    w = np.ones(tbl.num_rows, dtype=np.int64)
    for f in tbl.schema:
        if pa.types.is_list(f.type):
            w = pc.list_value_length(tbl.column(f.name)).fill_null(0) \
                .to_numpy().astype(np.int64)
            break
    cum = np.cumsum(w)
    start = 0
    while start < tbl.num_rows:
        base = cum[start - 1] if start else 0
        end = min(start + chunk_rows,
                  max(start + 1, int(np.searchsorted(cum, base + budget, "left")) + 1))
        end = min(end, tbl.num_rows)
        yield tbl.slice(start, end - start)
        start = end


def replay(spec, st, tracer: Tracer, slots: int) -> tuple[dict, dict]:
    """One task's share (1/slots of the rows) of every dataset through the
    engine's task-side functions.  Returns (op walls, counters)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkcodec import engine as E
    from sparkcodec.parquet import writer as W

    walls = dict.fromkeys(REPLAY_OPS, 0.0)
    cnt = {"groups": 0, "rows": 0, "admitted": 0, "admitted_true": 0,
           "parquet_bytes": 0, "attempted": 0, "failed": 0}

    def timed(op, fn):
        """Run one replay op; an exception counts it as failed."""
        tracer.op = op
        cnt["attempted"] += 1
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception:  # noqa: BLE001 -- counted and reported
            cnt["failed"] += 1
            print(f"FAILED replay op {op} on {name}:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        finally:
            walls[op] += time.perf_counter() - t0
            tracer.op = ""

    def check(ok: bool, what: str):
        if not ok:
            cnt["failed"] += 1
            print(f"FAILED replay check on {name}: {what}", file=sys.stderr)

    tracer.install()
    try:
        for name, path in st.src.items():
            files = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if f.endswith(".parquet"))
            biggest = max(files, key=os.path.getsize)
            n_rows = -(-st.tables[name].num_rows // slots)

            def read():
                with tracer.span("engine", "read"):
                    pf = pq.ParquetFile(biggest)
                    try:
                        bs, got = [], 0
                        for b in pf.iter_batches(batch_size=16384):
                            bs.append(b)
                            got += len(b)
                            if got >= n_rows:
                                break
                    finally:
                        pf.close()
                    return pa.Table.from_batches(bs).slice(0, n_rows)
            tbl = timed("read", read)
            if tbl is None:
                continue
            wins = list(_windows(tbl, E.DEFAULT_CHUNK_ROWS, E.DEFAULT_TOKEN_BUDGET))
            enc = timed("encode", lambda: [E.encode_chunk_group(w, True)
                                           for w in wins])
            if enc is None:
                continue
            cnt["groups"] += len(enc)
            cnt["rows"] += tbl.num_rows
            dec = timed("decode", lambda: [E.decode_chunk_group(b, pairs)
                                           for b, _, pairs, _ in enc])
            if dec is None:
                continue
            check(all(pa.Table.from_batches([rb]).cast(w.schema).equals(w)
                      for w, rb in zip(wins, dec)),
                  "a decoded group differs from its window")

            def write():
                pw = W.ParquetWriter(dec[0].schema, compression="zstd",
                                     row_group_rows=1 << 20)
                for rb in dec:
                    pw.write(pa.Table.from_batches([rb]))
                return pw.finish()
            buf = timed("decode_write", write)
            if buf is not None:
                cnt["parquet_bytes"] += len(buf)
                back = pq.read_table(io.BytesIO(buf))
                check(back.cast(tbl.schema).equals(tbl),
                      "parquet read-back differs from the source")

            if name != spec.query_dataset:
                continue
            key = spec.key
            benc = timed("bloom_encode", lambda: [
                E.encode_chunk_group(w, True, bloom_columns=(key,)) for w in wins])
            if benc is None:
                continue
            present = [set(w.column(key).to_pylist()) for w in wins]
            probes = st.hits[:32] + st.misses[:32]

            def probe():
                return [[E.group_may_contain(b, key, v) for b, *_ in benc]
                        for v in probes]
            verdicts = timed("probe", probe)
            if verdicts is not None:
                missed = []
                for v, adm in zip(probes, verdicts):
                    for g, a in enumerate(adm):
                        held = v in present[g]
                        cnt["admitted"] += a
                        cnt["admitted_true"] += a and held
                        if held and not a:
                            missed.append(v)
                check(not missed, f"bloom rejected groups holding {missed[:5]}")
            cols = set(spec.pruned)
            timed("pruned_decode", lambda: [E.decode_chunk_group(b, pairs, cols)
                                            for b, _, pairs, _ in benc])
    finally:
        tracer.uninstall()
    return walls, cnt


# ---------------------------------------------------------------- report

def layer_metrics(spec, st, spark_tracer: SparkOpTracer, base: dict,
                  work_root: str, slots: int) -> tuple[dict, int, int]:
    """Replay untraced and traced (alternating, twice each), write the span
    file and the self-time table, and return (per-layer metrics, replay
    attempts, replay failures)."""
    from sparkcodec.selector import CODEC_NAMES

    plain_walls, traced = [], []
    attempted = failed = 0
    for _ in range(2):
        for tr in (NullTracer(), Tracer()):
            walls, cnt = replay(spec, st, tr, slots)
            attempted += cnt["attempted"]
            failed += cnt["failed"]
            if isinstance(tr, NullTracer):
                plain_walls.append(walls)
            else:
                traced.append((tr, walls, cnt))

    def med(xs):
        return statistics.median(xs)

    # self time per (op, layer, name), median over the traced passes;
    # call counts are the same on every pass
    per_pass = [t.self_times() for t, _, _ in traced]
    keys = set().union(*per_pass)
    selft = {k: med([p.get(k, [0.0, 0])[0] for p in per_pass]) for k in keys}
    calls = {k: per_pass[-1].get(k, [0.0, 0])[1] for k in keys}
    tr, walls, cnt = traced[-1]

    def ms(op=None, layer=None, name=None):
        return 1000.0 * sum(v for (o, lay, n), v in selft.items()
                            if (op is None or o == op) and (layer is None or lay == layer)
                            and (name is None or n == name))

    m: dict[str, float] = {}
    m.update(spark_tracer.summary())
    m["engine.read_ms"] = ms("read", "engine", "read")
    m["engine.encode_group_ms"] = ms("encode", "engine", "encode_chunk_group")
    m["engine.decode_group_ms"] = ms("decode", "engine", "decode_chunk_group")
    m["engine.may_contain_ms"] = ms("probe", "engine", "group_may_contain")
    m["engine.groups"] = cnt["groups"]
    m["engine.rows_per_group"] = cnt["rows"] / max(cnt["groups"], 1)
    m["engine.admit_precision"] = cnt["admitted_true"] / max(cnt["admitted"], 1)
    m["chunk.encode_ms"] = ms("encode", "chunk")
    m["chunk.decode_ms"] = ms("decode", "chunk")
    for n in ("_rank_encode", "_rank_decode", "_compress", "_decompress"):
        m[f"chunk.{n.lstrip('_')}_ms"] = ms(None, "chunk", n)
    m["chunk.bytes_in"], m["chunk.bytes_out"] = tr.chunk_bytes
    for c in CODEC_NAMES.values():
        m[f"chunk.codec.{c}.count"] = tr.codecs.get(c, 0)
    m["selector.sample_ms"] = sum(ms("encode", "selector", n)
                                  for n, g in SELECTOR_GROUP.items() if g == "sample")
    m["selector.estimate_ms"] = sum(ms("encode", "selector", n)
                                    for n, g in SELECTOR_GROUP.items() if g == "estimate")
    for f in KERNEL_FNS:
        m[f"kernels.{f}_ms"] = ms(None, "kernels", f)
        m[f"kernels.{f}.calls"] = sum(c for (o, lay, n), c in calls.items()
                                      if lay == "kernels" and n == f)
    m["kernels.encode_ms"] = ms("encode", "kernels")
    m["kernels.decode_ms"] = ms("decode", "kernels")
    m["parquet.write_ms"] = ms("decode_write", "parquet")
    m["parquet.bytes_out"] = cnt["parquet_bytes"]

    table = {op: {lay: ms(op, lay) for lay in ("engine", "chunk", "selector",
                                                "kernels", "parquet")}
             for op in REPLAY_OPS}
    for op in REPLAY_OPS:
        wall = med([w[op] for _, w, _ in traced]) * 1000.0
        table[op]["wall_ms"] = wall
        table[op]["coverage"] = (sum(v for k, v in table[op].items()
                                     if k != "wall_ms") / wall) if wall else 0.0
    for op in ("encode", "decode", "decode_write"):
        m[f"trace.coverage.{op}"] = table[op]["coverage"]
    plain = med([sum(w.values()) for w in plain_walls])
    m["trace.overhead"] = med([sum(w.values()) for _, w, _ in traced]) / plain

    out = os.path.join(work_root, "out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{spec.name}-seed{base['seed']}")
    with open(stem + "-spans.jsonl", "w") as f:
        for s in tr.spans:
            f.write(json.dumps(dict(zip(("id", "parent", "layer", "name", "op",
                                         "t0", "t1"), s))) + "\n")
    spark_ops = {op: {f: m[f"spark.{op}.{f}"] for f in SPARK_FIELDS}
                 for op in SPARK_OPS}
    report = {"base": base, "replay_selftime_ms": table, "spark_ops_ms": spark_ops,
              "tracing_overhead": m["trace.overhead"],
              "untraced_replay_ms": {op: 1000 * med([w[op] for w in plain_walls])
                                     for op in REPLAY_OPS},
              "by_function_ms": {"/".join(k): 1000 * v for k, v in sorted(selft.items())},
              "unwrapped": tr.unwrapped, "all_metrics": m}
    with open(stem + "-selftime.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    print_table(table, spark_ops, m["trace.overhead"])
    return {k: v for k, v in m.items() if k not in REPORT_ONLY}, attempted, failed


def print_table(table: dict, spark_ops: dict, overhead: float):
    lays = ("engine", "chunk", "selector", "kernels", "parquet")
    print(f"{'replay op':<14}" + "".join(f"{x:>10}" for x in lays)
          + f"{'wall':>10}{'cover':>8}")
    for op, row in table.items():
        print(f"{op:<14}" + "".join(f"{row[x]:>10.1f}" for x in lays)
              + f"{row['wall_ms']:>10.1f}{row['coverage']:>8.2f}")
    print(f"{'spark op':<18}" + "".join(f"{x:>13}" for x in SPARK_FIELDS))
    for op, row in spark_ops.items():
        print(f"{op:<18}" + "".join(f"{row[x]:>13.1f}" for x in SPARK_FIELDS))
    print(f"tracing overhead (traced / untraced replay wall): {overhead:.3f}")
