#!/usr/bin/env python3
"""The benchmark's one command: run a named workload with a seed, check
every output, print the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <loads_daily|dedup_graph>
      --seed <n> --seconds <s> --trace <0|1>

Steps: build the program and the harness (perfbench/build.py, skipped
when unchanged), generate the seeded inputs (perfbench/gen.py, untimed),
start the harness JVM and time its set-up, let it run one pass of the
workload's ops as a closed loop, check the outputs (perfbench/checks.py),
and print one JSON object as the last line of stdout:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). The timed work is fixed (one
pass); --seconds is its expected length, and a pass that takes more
than ten times that fails the run. Everything is written under
.bench_build/ in the current directory.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

BUILD_DIR = ".bench_build"
# Four of the iterative graph loops of DedupQueries (kcore, pagerank,
# lpaLabels, bfs); see README.md for why not all 26 entries.
DEDUP_QUERIES = ["graph_kcore", "graph_pagerank", "graph_label_prop",
                 "graph_bfs_reach"]
HEAP = "3g"
# Most the harness may spend outside an op's span while timing it: two
# listener-bus drains and counter snapshots (see per_layer).
SPAN_GAP_TOL_NS = 50_000_000
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# op -> planted input that op consumes (rows_per_s numerator)
LOAD_SOURCES = {
    "cartera_csv": ["cartera_csv_rows"],
    "pending_csv": ["pending_csv_rows"],
    "wor_workbook": ["wor_category_rows", "wor_forecast_rows"],
    "cartera_load": ["orders", "customer"],
    "cartera_rejects": ["orders", "customer"],
    "pending_orders_load": ["lineitem", "orders", "customer", "part"],
    "pending_rejects": ["lineitem", "orders", "customer", "part"],
    "ventas_incremental": ["lineitem", "orders", "customer", "part"],
    "ventas_dq_nonnumeric": ["lineitem", "orders", "customer", "part"],
    "wor_forecast_load": ["customer"],
    "wor_cuotas_categoria_load": ["orders"],
}
PIPELINE_LAYERS = [
    "Cartera.rawFact", "Cartera.enriched", "Cartera.load",
    "PendingOrders.rawFact", "PendingOrders.enriched", "PendingOrders.load",
    "VentasTotales.rawFile", "VentasTotales.prepared", "VentasTotales.load",
    "Wor.forecastPrepared", "Wor.forecastAllRows", "Wor.forecastLoad",
    "Wor.categoryPrepared", "Wor.cuotasCategoriaLoad"]


def jvm_cmd(classes, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "run", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # nothing outside the working directory: no perf-data file in /tmp,
    # temp files and Spark's local dirs under .bench_build/run
    return (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{classes}{os.pathsep}{build.classpath()}",
        "perfbench.Harness"] + args)


def start(classes, args, log):
    return subprocess.Popen(jvm_cmd(classes, args), stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=log, text=True)


def wait_line(p, want, deadline):
    """Read stdout until `want`; return the time it arrived."""
    while True:
        line = p.stdout.readline()
        if not line:
            raise RuntimeError(f"harness exited before {want} (see harness.log)")
        if line.strip() == want:
            return time.monotonic()
        if time.monotonic() > deadline:
            raise RuntimeError(f"timed out waiting for {want}")


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc")


def stop(p):
    if p.poll() is None:
        p.kill()
    p.wait()


# ------------------------------------------------------------- metrics

def op_rows(op, planted):
    unit = planted["units"][op["unit"]]
    if op["name"] in LOAD_SOURCES:
        return sum(unit.get(k, unit["tables"].get(k, 0)) for k in LOAD_SOURCES[op["name"]])
    return unit["tables"]["documents"]


def end_to_end(result, planted, setup, rss):
    ops = result["ops"]
    walls = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]
    rows = sum(op_rows(o, planted) for o in ops)
    return {
        "setup_s": (setup, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "rows_per_s": (rows / sum(walls), "1/s"),
        "pass_s": (sum(walls), "s"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(result):
    """Layer metrics of a traced run, per op unless stated otherwise,
    and the attribution check (returned as a list of problems).

    Attribution: an op's wall time comes from the harness's own clock
    reads around the op (`ops`), outside the tracer. Its layer self
    times are the child spans' durations (which must nest), and the
    unattributed remainder is the wall time minus them. The check is
    that the op span agrees with the independently read wall time: it
    may start late and end early by the tracer's own work at its two
    boundaries, at most SPAN_GAP_TOL_NS, never more and never by less
    than zero."""
    names = result["counter_names"]
    idx = {n: i for i, n in enumerate(names)}
    spans = result["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    jobs = result["jobs"]
    problems, remainders, real_s = [], [], []
    sums = {n: 0.0 for n in names}
    peak = 0
    gaps = []
    selfs = {}
    sink_selfs = []
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    # children lie inside their parent, one after another
    for s in spans:
        prev = s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            if c["start_ns"] < prev or c["end_ns"] > s["end_ns"]:
                problems.append(f"span {c['name']} of op {s['op']} overlaps")
            prev = c["end_ns"]
    recs = {o["id"]: o for o in result["ops"]}
    tops = [s for s in spans if s["parent"] == -1]
    if sorted(s["op"] for s in tops) != sorted(recs):
        problems.append("op spans do not match the ops run, one to one")
    for top in tops:
        rec = recs.get(top["op"])
        if rec is None:
            continue
        wall = rec["end_ns"] - rec["start_ns"]
        lead, lag = top["start_ns"] - rec["start_ns"], rec["end_ns"] - top["end_ns"]
        if not (0 <= lead and 0 <= lag and lead + lag <= SPAN_GAP_TOL_NS):
            problems.append(f"op {top['op']}: span [{top['start_ns']}, {top['end_ns']}] "
                            f"does not match wall [{rec['start_ns']}, {rec['end_ns']}]")
        ch = sorted(kids.get(top["id"], []), key=lambda c: c["start_ns"])
        remainders.append((wall - sum(dur[c["id"]] for c in ch)) / 1e6)
        real = [c for c in ch if not c["probe"]]
        real_s.append(sum(dur[c["id"]] for c in real) / 1e9)
        for c in real:
            for n in names:
                if n == "exec.peak_mem_bytes":
                    peak = max(peak, c["delta"][idx[n]])
                else:
                    sums[n] += c["delta"][idx[n]]
        busy = 0
        for c in real:
            iv = sorted((max(j[0], c["start_ms"]), min(j[1] if j[1] >= 0 else c["end_ms"],
                                                       c["end_ms"])) for j in jobs)
            cur_s = cur_e = None
            for a, b in iv:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    busy += (cur_e - cur_s) if cur_e is not None else 0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            busy += (cur_e - cur_s) if cur_e is not None else 0
        gaps.append(max(0.0, sum(dur[c["id"]] for c in real) / 1e6 - busy))
        probes = [c for c in ch if c["probe"] and c["name"] in PIPELINE_LAYERS]
        prev = 0
        for pr in probes:
            selfs.setdefault(pr["name"], []).append((dur[pr["id"]] - prev) / 1e6)
            prev = dur[pr["id"]]
        if probes:
            sink = [c for c in real if c["name"] == "Sinks.appendSnapshotParquet"]
            if sink:
                sink_selfs.append((dur[sink[-1]["id"]] - prev) / 1e6)
    n_ops = max(1, len(tops))

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m = {}
    for n in ["plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
              "plan.aqe_updates", "dispatch.jobs", "dispatch.stages",
              "dispatch.tasks", "dispatch.sched_delay_ms"]:
        m[n] = (sums[n] / n_ops, "ms" if n.endswith("_ms") else "count")
    m["dispatch.driver_gap_ms"] = (sum(gaps) / n_ops, "ms")
    for n in ["jvm.jit_ms", "codegen.compiles", "jvm.gc_ms"]:
        m[n] = (sums[n] / n_ops, "ms" if n.endswith("_ms") else "count")
    m["Sources.csvSkipping_ms"] = (med([dur[s["id"]] / 1e6 for s in by_name.get(
        "Sources.csvSkipping", [])]), "ms")
    m["Xlsx.scanWorkbooks_ms"] = (med([dur[s["id"]] / 1e6 for s in by_name.get(
        "Xlsx.scanWorkbooks", [])]), "ms")
    m["scan.bytes_read"] = (sums["scan.bytes_read"] / n_ops, "bytes")
    m["scan.records_read"] = (sums["scan.records_read"] / n_ops, "count")
    for layer in PIPELINE_LAYERS:
        m[f"{layer}_self_ms"] = (med(selfs.get(layer, [])), "ms")
    for n in ["exec.run_ms", "exec.cpu_ms", "exec.deser_ms", "shuffle.write_bytes",
              "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.mem_bytes",
              "spill.disk_bytes"]:
        m[n] = (sums[n] / n_ops, "ms" if n.endswith("_ms") else "bytes")
    m["exec.peak_mem_bytes"] = (float(peak), "bytes")
    m["Sinks.appendSnapshotParquet_self_ms"] = (med(sink_selfs), "ms")
    m.update(sink_files())
    m.update(accounting_metrics(result))
    m["cache.blocks_left"] = (float(max(result["blocks_left"] or [0])), "count")
    m["jvm.heap_live_mb"] = (max(result["heap_live"] or [0]) / 2**20, "MB")
    for q in DEDUP_QUERIES:
        sp = by_name.get(f"DedupQueries.{q}", [])
        m[f"DedupQueries.{q}_s"] = (med([dur[s["id"]] / 1e9 for s in sp]), "s")
        m[f"DedupQueries.{q}.stages"] = (
            med([s["delta"][idx["dispatch.stages"]] for s in sp]), "count")
    m["trace.op_p50_s"] = (med(real_s), "s")
    m["trace.remainder_ms"] = (med(remainders), "ms")
    return m, problems


def sink_files():
    """Files and bytes per row the sink wrote in the timed pass — a count
    that repeats exactly for a seed."""
    import pyarrow.parquet as pq
    out = os.path.join(BUILD_DIR, "run", "out", "sink")
    files = rows = size = 0
    if os.path.isdir(out):
        for sink in sorted(os.listdir(out)):
            for p in sorted(glob.glob(os.path.join(out, sink, "load_stamp=*", "*.parquet"))):
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return {"Sinks.files_written": (float(files), "count"),
            "Sinks.bytes_per_row": (size / rows if rows else 0.0, "bytes/row")}


def accounting_metrics(result):
    """Load accounting of the timed day slice (deterministic for a seed)."""
    acc = result["accounting"]
    first = acc[sorted(acc)[0]] if acc else {}
    tot = {k: sum(a[k] for a in first.values()) for k in
           ("read", "rejected", "deduplicated", "inserted")} if first else {}
    read, rej = tot.get("read", 0), tot.get("rejected", 0)
    ins, ded = tot.get("inserted", 0), tot.get("deduplicated", 0)
    return {
        "rows_read": (float(read), "count"),
        "rows_rejected": (float(rej), "count"),
        "rows_deduplicated": (float(ded), "count"),
        "rows_inserted": (float(ins), "count"),
        "lookup.match_frac": ((read - rej) / read if read else 0.0, "frac"),
        "dedup.insert_frac": (ins / (ins + ded) if ins + ded else 0.0, "frac"),
    }


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    need = ["src/main/scala/graft", "tools/gen_scale.py", "tools/check.py"]
    if not all(os.path.exists(p) for p in need):
        sys.exit("perfbench: run from the root of the repository checkout "
                 f"(one of {', '.join(need)} is missing)")
    import checks  # needs tools/check.py
    import gen  # needs tools/gen_scale.py
    if a.workload not in gen.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; one of {gen.WORKLOADS}")
    classes = os.path.abspath(build.build(BUILD_DIR))

    run = os.path.join(BUILD_DIR, "run")
    shutil.rmtree(run, ignore_errors=True)
    in_dir, out_dir = os.path.join(run, "in"), os.path.join(run, "out")
    os.makedirs(out_dir)
    t = time.monotonic()
    planted = gen.generate(a.workload, a.seed, in_dir)
    sys.stderr.write(f"[perfbench] inputs generated in {time.monotonic() - t:.1f} s\n")

    deadline = time.monotonic() + 150
    args = ["--workload", a.workload, "--in", os.path.abspath(in_dir),
            "--out", os.path.abspath(out_dir), "--trace", str(a.trace),
            "--queries", ",".join(DEDUP_QUERIES)]
    with open(os.path.join(run, "harness.log"), "w") as log:
        t0 = time.monotonic()
        p = start(classes, args, log)
        try:
            ready = wait_line(p, "READY", deadline)
            setup = ready - t0
            wait_line(p, "DONE", min(deadline, ready + 10 * a.seconds))
            sys.stderr.write(f"[perfbench] harness done after {time.monotonic() - t0:.1f} s\n")
            rss = peak_rss_mb(p.pid)
            p.stdin.close()
            p.wait(timeout=60)
        finally:
            stop(p)
    if p.returncode != 0:
        sys.exit(f"perfbench: harness exited with {p.returncode} (see {run}/harness.log)")
    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)

    t = time.monotonic()
    bad = checks.check_run(result, out_dir, in_dir, planted)
    problems = checks.check_accounting(result, planted)
    if a.trace:
        metrics, attribution = per_layer(result)
        problems += attribution
    else:
        metrics = end_to_end(result, planted, setup, rss)
    sys.stderr.write(f"[perfbench] checks took {time.monotonic() - t:.1f} s\n")
    for op_id, why in sorted(bad.items()):
        sys.stderr.write(f"[perfbench] op {op_id} FAILED CHECK: {why}\n")
    for why in problems:
        sys.stderr.write(f"[perfbench] CHECK: {why}\n")
    print(json.dumps({
        "correct": not bad and not problems,
        "attempted": len(result["ops"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
