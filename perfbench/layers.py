"""Per-layer split of one traced pass: Spark's per-operator metrics from
the status store, attributed through the span tree, plus process
counters from ``/proc``."""

from __future__ import annotations

import os
import re
import statistics

from perfbench.tracing import attach, covered_exec_time, self_times, union_len

# MapInPandas node -> kernel layer, by the function name the plan prints
# or, for the generically named ``kernel`` closures, by an output column
# only that kernel emits
_KERNEL_RULES = (
    ("decode", re.compile(r"^MapInPandas decode_kernel\(")),
    ("ingest_text", re.compile(r"^MapInPandas _page_text_kernel\(")),
    ("extract", re.compile(r"used_preprocessing#")),
    ("warc", re.compile(r"warc_type#")),
    ("dedup", re.compile(r"minhash#")),
)
PY_LAYERS = ("extract", "decode", "ingest_text", "warc", "dedup")
PY_TIME = "time to run Python workers"

# SnapshotTable roots (last path part, or the staging parent) -> stage
_TABLE_STAGE = {
    "text": "assemble", "spans": "spans",
    "pages": "ingest", "ingest_rejects": "ingest",
    "clean": "clean", "clean_rejects": "clean",
    "mixture_report": "mix", "shards": "shards", "manifest": "shards",
}
# function and leg spans -> the stage whose work they time
_CALL_STAGE = {"extract_pages": "extract", "ingest_pages": "ingest",
               "clean_corpus": "clean", "mixture_report": "mix",
               "pack_windows": "shards", "leg.crawl_ingest": "ingest",
               "leg.clean_corpus": "clean", "leg.pack_windows": "shards"}


def table_stage(root: str) -> str:
    parts = root.rstrip("/").split("/")
    if len(parts) >= 2 and parts[-2] == "_staged_pages":
        return "extract"
    return _TABLE_STAGE.get(parts[-1], "other")


def kernel_layer(desc: str) -> str | None:
    for layer, rx in _KERNEL_RULES:
        if rx.search(desc):
            return layer
    return None


def _metric(node, name: str) -> float:
    v = node.metrics.get(name)
    return (v.total or 0.0) if v is not None else 0.0


def _skew(task_s: list[float]) -> float:
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


def split(reader, tracer, pass_span, executions) -> dict[str, float]:
    """Per-layer metrics of one traced pass (``pass_span`` is its root)."""
    spans = [s for s in tracer.spans if s.start >= pass_span.start
             and (s.end or s.start) <= (pass_span.end or s.start)]
    attached = attach(spans, executions)
    m: dict[str, float] = {}

    # ---- Python crossings and JVM operators --------------------------
    py = {k: 0.0 for k in PY_LAYERS}
    py_rows = {k: 0.0 for k in PY_LAYERS}
    decode_stage, decode_best = None, -1.0
    sent = returned = shuf_b = shuf_r = fetch = scan = codegen = 0.0
    wbytes = wfiles = 0.0
    for e in executions:
        for n in e.nodes:
            if PY_TIME in n.metrics:
                t = _metric(n, PY_TIME)
                sent += _metric(n, "data sent to Python workers")
                returned += _metric(n, "data returned from Python workers")
                layer = kernel_layer(n.desc)
                if layer is not None:
                    py[layer] += t
                    py_rows[layer] += _metric(n, "number of output rows")
                if layer == "decode" and t > decode_best:
                    decode_best, decode_stage = t, n.metrics[PY_TIME].stage_id
            if n.name == "Exchange":
                shuf_b += _metric(n, "shuffle bytes written")
                shuf_r += _metric(n, "shuffle records written")
                fetch += _metric(n, "fetch wait time")
            scan += _metric(n, "scan time")
            if n.name.startswith("WholeStageCodegen"):
                codegen += _metric(n, "duration")
            if "InsertIntoHadoopFsRelationCommand" in n.name:
                wbytes += _metric(n, "written output")
                wfiles += _metric(n, "number of written files")
    for k in PY_LAYERS:
        m[f"py.{k}.worker_s"] = py[k]
    m["py.extract.rows"] = py_rows["extract"]
    m["py.bytes_sent"] = sent
    m["py.bytes_returned"] = returned
    m["exchange.shuffle_bytes"] = shuf_b
    m["exchange.shuffle_records"] = shuf_r
    m["exchange.fetch_wait_s"] = fetch
    m["scan.time_s"] = scan
    m["jvm.codegen_s"] = codegen
    m["snapshot.bytes_written"] = wbytes
    m["snapshot.files_written"] = wfiles

    # ---- stages and tasks --------------------------------------------
    stage_ids = sorted({s for e in executions for s in e.stage_ids})
    stages = [st for st in (reader.stage(s) for s in stage_ids) if st]
    m["spark.sql_executions"] = float(len(executions))
    m["spark.tasks"] = float(sum(s.num_tasks for s in stages))
    m["spark.failed_tasks"] = float(sum(s.failed_tasks for s in stages))
    m["jvm.gc_s"] = sum(s.gc_s for s in stages)
    m["jvm.cpu_s"] = sum(s.cpu_s for s in stages)
    heavy = max(stages, key=lambda s: s.run_s, default=None)
    m["tasks.skew_max_med"] = _skew(
        reader.stage(heavy.stage_id, with_tasks=True).task_run_s
        if heavy else [])
    dec = reader.stage(decode_stage, with_tasks=True) \
        if decode_stage is not None else None
    m["tasks.decode_skew"] = _skew(dec.task_run_s if dec else [])

    # ---- span tree ------------------------------------------------------
    wall = pass_span.dur
    ivs = [(e.start_ms / 1e3, e.end_ms / 1e3) for e in executions]
    m["driver.plan_s"] = wall - union_len(ivs, pass_span.start,
                                          pass_span.end or pass_span.start)
    selfs = self_times(spans, attached)
    leaf_exec = sum(e.end_ms - e.start_ms for e, p in attached
                    if p is not None) / 1e3
    m["trace.self_cover"] = (sum(selfs.values()) + leaf_exec) / wall \
        if wall > 0 else 0.0

    stage_s: dict[str, float] = {}
    commits, commit_over, write_s = 0, 0.0, 0.0
    for s in spans:
        if s.name == "SnapshotTable.append":
            covered = covered_exec_time(s, spans, attached)
            commits += 1
            write_s += covered
            commit_over += s.dur - covered
            st = table_stage(s.attrs.get("table", ""))
        else:
            st = _CALL_STAGE.get(s.name)
        if st is not None:
            stage_s[st] = stage_s.get(st, 0.0) + s.dur
    m["snapshot.commits"] = float(commits)
    m["snapshot.write_s"] = write_s
    m["snapshot.commit_ms"] = 1e3 * commit_over / commits if commits else 0.0
    for st in ("extract", "ingest", "clean", "mix", "shards"):
        m[f"stage.{st}_s"] = stage_s.get(st, 0.0)
    m["assemble.s"] = stage_s.get("assemble", 0.0)
    m["spans.s"] = stage_s.get("spans", 0.0)
    return m


# ---------------------------------------------------------------------------
# /proc counters


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after "pid (comm)": state=0, ppid=1, utime=11, stime=12,
    # cutime=13, cstime=14
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = st[0]
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def python_cpu_ticks(jvm_pid: int) -> dict[int, int]:
    """pid -> CPU clock ticks (own plus reaped children) of every process
    under the JVM: the Python worker daemon and its workers."""
    out = {}
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            out[pid] = st[1]
    return out


def python_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the Python workers used between two snapshots.  A worker
    forked in between counts from zero; one that exited in between is
    counted through its daemon's reaped-children time."""
    ticks = sum(max(0, t - before.get(pid, 0)) for pid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak RSS (MiB) of the driver JVM, and summed over its Python worker
    processes.  The worker sum moves with how many workers the daemon
    happened to fork, so it is a per-layer figure, not an end-to-end one."""
    py_kb = sum(_hwm_kb(p) for p in descendants(jvm_pid))
    return _hwm_kb(jvm_pid) / 1024.0, py_kb / 1024.0
