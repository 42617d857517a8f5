"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs them in one JVM at local[4], checks every output, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics (and writes the spans
of every request as JSONL under the build directory). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_ingest  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("faces_floor", "faces_heavy", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# ingest: the stream reads at most this many lines per micro-batch; the
# pre-crash phase, which also warms the stream path up, is stopped inside
# batch CRASH_AT_BATCH, at the step of its upsert call that the seed picks
# from CRASH_PHASES (see Harness.crashPhases)
MAX_LINES_PER_TRIGGER = 10000
PRE_LINES = 30000
CRASH_AT_BATCH = 2
CRASH_PHASES = ("before_staging", "staging", "published")
BACKLOG_LINES_PER_S = 3000

END_TO_END = ("setup_s", "total_s", "p50_s", "tail_s", "rate_per_s", "heap_retained_mb")
UNITS = {"setup_s": "s", "total_s": "s", "p50_s": "s", "tail_s": "s",
         "rate_per_s": "1/s", "heap_retained_mb": "MB"}


def load_reference():
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def tables_dir(sf):
    """Generated tables for `sf`, made once per checkout (the data is fixed;
    the seed chooses what the workload does with it)."""
    d = os.path.join(build.build_dir(), "data", f"sf{sf}")
    stamp = os.path.join(d, ".stamp")
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d, sf)
        with open(stamp, "w") as f:
            f.write(want)
    return d


def face_plan(ref, workload, seed):
    """The workload's frozen face list in a seed-shuffled order."""
    plan = list(ref[workload]["faces"])
    random.Random(seed).shuffle(plan)
    return plan


def java(classes, cores, kv):
    tmp = os.path.join(kv["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    # build.sbt's run options, except a 3 GB heap cap instead of 8 GB: the
    # runs retain under 150 MB and the cap keeps a run small on a shared
    # machine. -XX:-UsePerfData and java.io.tmpdir keep the JVM's files in
    # the checkout.
    cmd = ["java", "-Xss64m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(), "perfbench.Harness"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=kv["work"] + "/spark")
    env.pop("SPARK_GRAFT_MASTER", None)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=JVM_TIMEOUT_S, env=env, cwd=kv["work"])
    if r.returncode != 0 or not os.path.exists(kv["out"]):
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"perfbench: harness failed ({r.returncode})")
    with open(kv["out"]) as f:
        return json.load(f)


def sum_layers(rows, keys=("layer", "build_layer")):
    tot = {}
    for r in rows:
        for k in keys:
            for name, v in (r.get(k) or {}).items():
                if name == "operators.peak_exec_mem_bytes":
                    tot[name] = max(tot.get(name, 0.0), v)
                else:
                    tot[name] = tot.get(name, 0.0) + v
    return tot


def write_spans(workload, seed, spans):
    d = os.path.join(build.build_dir(), "traces")
    os.makedirs(d, exist_ok=True)
    selfs = metrics.self_times(spans)
    path = os.path.join(d, f"{workload}-seed{seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(dict(s, self_ms=selfs[s["id"]])) + "\n")
    by_name = {}
    for s in spans:
        key = s["name"].split(":")[0]
        by_name[key] = by_name.get(key, 0.0) + selfs[s["id"]]
    return by_name


# ------------------------------------------------------------------ faces

def faces(ref, workload, seed, seconds, trace, cores, classes, work):
    sf = ref[workload]["sf"]
    plan = face_plan(ref, workload, seed)
    out = java(classes, cores, {
        "workload": "faces", "master": f"local[{cores}]", "cores": cores, "trace": trace,
        "tables": tables_dir(sf), "warm_tables": tables_dir(ref[workload]["warm_sf"]),
        "pads": ",".join(ref[workload]["pads"]),
        "faces": ",".join(plan), "work": work, "out": os.path.join(work, "out.json")})
    digests = ref[workload]["digests"]
    rows_only = set(ref[workload].get("rows_only", []))
    failed = [("warm-up", e, 1) for e in out["warm_up_errors"]]
    times = []
    for r in out["faces"]:
        want = digests.get(r["name"])
        if "error" in r or want is None:
            failed.append((r["name"], r.get("error", "no reference digest"), 1))
            continue
        got = f'{r["rows"]}:{r["digest"]}'
        ok = got.split(":")[0] == want.split(":")[0] if r["name"] in rows_only else got == want
        if not ok:
            failed.append((r["name"], f"digest {got} != {want}", 1))
            continue
        times.append(r["total_s"])
    res = {"attempted": len(plan), "failed": failed, "out": out,
           "faces": [(r["name"], r.get("total_s")) for r in out["faces"]]}
    if trace:
        ok_rows = [r for r in out["faces"] if "error" not in r]
        layer = sum_layers(ok_rows)
        exec_ms = sum(r["t_ms"][4] - r["t_ms"][1] for r in ok_rows)
        layer["operators.build_ms"] = sum(r["build_ms"] for r in ok_rows)
        layer["operators.build_jobs"] = sum(r["build_jobs"] for r in ok_rows)
        layer["operators.busy_share"] = layer.get("operators.task_run_ms", 0.0) / max(
            1e-9, exec_ms * int(cores))
        layer["core.tables_load_ms"] = out["tables_load_ms"]
        layer["core.cached_frames_after"] = max([r["cached_frames_after"] for r in ok_rows] or [0])
        layer["core.cached_bytes_after"] = max([r["cached_bytes_after"] for r in ok_rows] or [0])
        spans = []
        for r in ok_rows:
            t0, t1, p0, p1, t2 = r["t_ms"]
            root = len(spans) + 1
            spans.append({"id": root, "parent": 0, "name": f"face:{r['name']}",
                          "start_ms": t0, "end_ms": t2})
            for name, a, b in (("build", t0, t1), ("plan", p0, p1), ("execute", p1, t2)):
                spans.append({"id": len(spans) + 1, "parent": root, "name": name,
                              "start_ms": a, "end_ms": b})
        res["self"] = write_spans(workload, seed, spans)
        res["layer"] = layer
    if times:
        res["total_s"] = sum(times)
        res["samples"] = times
        res["rate_per_s"] = len(times) / sum(times)
    return res


# ----------------------------------------------------------------- ingest

def read_store(path):
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    epoch = gen_ingest.BASE.replace(tzinfo=None)
    rows = []
    for i in range(t.num_rows):
        ts = cols["time_received"][i].replace(tzinfo=None)
        rows.append((cols["sensor_group"][i], cols["sensor_id"][i],
                     int((ts - epoch).total_seconds()), cols["uptime"][i],
                     cols["temperature"][i], cols["pressure"][i], cols["humidity"][i],
                     cols["ix"][i], cols["iy"][i], cols["iz"][i], cols["mask"][i],
                     cols["seq"][i]))
    return rows


def tree_size(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return len(files), sum(os.path.getsize(f) for f in files)


def ingest(ref, workload, seed, seconds, trace, cores, classes, work):
    cfg = ref["ingest"]
    gen_dir = os.path.join(work, "gen")
    book = gen_ingest.generate(gen_dir, seed, os.path.join(ROOT, "data", "sensor_group.csv"),
                               PRE_LINES, BACKLOG_LINES_PER_S * seconds,
                               cfg["live_rows_per_s"], seconds)
    out = java(classes, cores, {
        "workload": "ingest", "master": f"local[{cores}]", "cores": cores, "trace": trace,
        "dim": os.path.join(ROOT, "data", "sensor_group.csv"), "ingest": gen_dir,
        "work": work, "max_lines_per_trigger": MAX_LINES_PER_TRIGGER,
        "crash_at_batch": CRASH_AT_BATCH, "crash_phase": CRASH_PHASES[seed % len(CRASH_PHASES)],
        "out": os.path.join(work, "out.json")})
    calls = out["calls"]
    # due times as the harness scheduled them, on the same clock as the calls
    due = {name: due_ms for name, due_ms, _ in out["published"]}
    live_segments = [dict(s, due_ms=due[s["name"]]) for s in book["live_segments"]]
    lat = metrics.visible_latencies(live_segments, [(c[2], c[3], c[5]) for c in calls],
                                     book["bad_lines"])
    # operations: each live record's visibility, each key of the
    # last-write-wins table, the dead-letter count, the crash, the store's
    # leftover state
    failed = []
    lost = sum(1 for x in lat if x is None)
    if lost:
        failed.append(("visibility", "live records never became visible", lost))
    got = read_store(out["store"])
    bad = gen_ingest.store_failures(got, book["store"])
    if bad:
        failed.append(("store", f"keys lost, doubled or wrong ({len(got)} rows, "
                                f"{book['store_rows']} expected)", bad))
    if out["dead_letter_rows"] != len(book["bad_lines"]):
        failed.append(("dead_letters",
                       f"{out['dead_letter_rows']} != planted {len(book['bad_lines'])}", 1))
    crash = out["crash"]
    if crash["landed"] != crash["phase"] or crash["committed"]:
        failed.append(("crash", f"the stop meant for step {crash['phase']} of batch "
                                f"{crash['batch']} landed at {crash['landed']}"
                                f"{' after its commit' if crash['committed'] else ''}", 1))
    if out["store_leftovers"]:
        failed.append(("leftovers", f"store staging or backup left: {out['store_leftovers']}", 1))
    catchup_rows = book["pre"] + book["backlog"] - out["committed_at_crash"]
    catchup_s = (out["caught_up_ms"] - out["restart_ms"]) / 1000.0
    samples = [x / 1000.0 for x in lat if x is not None]
    res = {"attempted": len(lat) + len(book["store"]) + 3, "failed": failed, "out": out,
           "samples": samples,
           "total_s": catchup_s, "rate_per_s": catchup_rows / catchup_s}
    if trace:
        done = [c for c in calls if c[5] >= 0]
        live = [c for c in done if c[4] >= out["live_start_ms"]]
        batches = out.get("batches", [])
        per_batch = sum_layers(batches, ("layer",))
        layer = sum_layers(batches + [{"layer": out["main_layer"]}], ("layer",))
        n_b = max(1, len(batches))
        layer["streaming.upsert_jobs"] = per_batch.get("operators.jobs", 0.0) / n_b
        layer["streaming.upsert_shuffle_bytes"] = per_batch.get("operators.shuffle_write_bytes", 0.0) / n_b

        def med(key):
            xs = [b["durations"].get(key, 0) for b in batches if b["input_rows"] > 0]
            return statistics.median(xs) if xs else 0.0
        layer["sources.latest_offset_ms"] = med("latestOffset")
        layer["sources.get_batch_ms"] = med("getBatch")
        layer["streaming.query_planning_ms"] = med("queryPlanning")
        layer["streaming.wal_commit_ms"] = med("walCommit")
        layer["streaming.commit_offsets_ms"] = med("commitOffsets")
        layer["streaming.upsert_ms"] = statistics.median([c[5] - c[4] for c in done])
        layer["streaming.batches"] = len(done)
        layer["streaming.batch_rows"] = statistics.median([c[3] - c[2] for c in done])
        pub = sorted((p[2], seg["first"] + seg["lines"]) for p, seg in
                     zip(out["published"], live_segments))
        on_disk = lambda t: max([n for a, n in pub if a <= t] or  # noqa: E731
                                [book["pre"] + book["backlog"]])
        layer["sources.lag_lines"] = statistics.median(
            [on_disk(c[5]) - c[3] for c in live]) if live else 0.0
        layer["loadgen.late_ms"] = statistics.mean(p[2] - p[1] for p in out["published"])
        idle = 0.0
        for a, b in zip(live, live[1:]):
            if on_disk(a[5]) > a[3]:
                idle += max(0.0, b[4] - a[5])
        layer["streaming.idle_with_lag_ms"] = idle
        first2 = min(c[4] for c in calls if c[0] == 2)
        layer["streaming.recovery_ms"] = first2 - out["restart_ms"]
        processed = sum(c[3] - c[2] for c in calls)
        layer["streaming.useful_ratio"] = max(c[3] for c in done) / max(1, processed)
        layer["streaming.dead_letter_rows"] = out["dead_letter_rows"]
        layer["streaming.store_files"], layer["streaming.store_bytes"] = tree_size(out["store"])
        spans = []
        epoch = out["epoch_at_base_ms"]
        by_batch = {}
        for c in done:
            by_batch.setdefault(c[1], c)
        for b in batches:
            start = b["start_epoch_ms"] - epoch
            root = len(spans) + 1
            d = b["durations"]
            spans.append({"id": root, "parent": 0, "name": f"batch:{b['batch_id']}",
                          "start_ms": start, "end_ms": start + d.get("triggerExecution", 0)})
            t = start
            for part in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                         "addBatch", "commitOffsets"):
                spans.append({"id": len(spans) + 1, "parent": root, "name": part,
                              "start_ms": t, "end_ms": t + d.get(part, 0)})
                if part == "addBatch" and b["batch_id"] in by_batch:
                    c = by_batch[b["batch_id"]]
                    spans.append({"id": len(spans) + 1, "parent": len(spans), "name": "upsertBatch",
                                  "start_ms": c[4], "end_ms": c[5]})
                t += d.get(part, 0)
        res["self"] = write_spans(workload, seed, spans)
        res["layer"] = layer
    return res


# ------------------------------------------------------------------- main

def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="Spark local cores (4 for every gated run)")
    ap.add_argument("--dump", help="also write the full run record (JSON) to this file")
    a = ap.parse_args(argv)
    classes = build.build()
    ref = load_reference()
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fn = {"faces_floor": faces, "faces_heavy": faces, "ingest": ingest}[a.workload]
        res = fn(ref, a.workload, a.seed, a.seconds, a.trace, a.cores, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = res["out"]
    failed = res["failed"]
    for name, why, n in failed:
        sys.stderr.write(f"perfbench: FAILED {name} ({n}): {why}\n")
    samples = res.get("samples")
    if not samples:
        raise SystemExit("perfbench: no operation succeeded; no metric to report")
    p, tail_v, n = metrics.tail(samples)
    values = {"setup_s": out["setup_s"], "total_s": res["total_s"],
              "p50_s": metrics.percentile(samples, 50), "tail_s": tail_v,
              "rate_per_s": res["rate_per_s"], "heap_retained_mb": out["heap_retained_mb"]}
    if a.trace:
        layer = dict(res["layer"])
        for k, v in res["self"].items():
            layer[f"trace.self_ms.{k}"] = v
        layer["trace.total_s"] = values["total_s"]
        layer["trace.p50_s"] = values["p50_s"]
        m = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
             for name, unit in per_layer_names()}
    else:
        m = {name: {"value": values[name], "unit": UNITS[name]} for name in END_TO_END}
    record = {"correct": not failed, "attempted": res["attempted"],
              "failed": sum(n for _, _, n in failed),
              "metrics": m}
    if a.dump:
        with open(a.dump, "w") as f:
            json.dump({"record": record, "tail_percentile": p, "samples": n,
                       "setup_parts_ms": out["setup_parts_ms"], "failures": failed,
                       "faces": res.get("faces"), "crash": out.get("crash"),
                       "layer": res.get("layer"), "self": res.get("self")}, f, indent=1)
    sys.stderr.write(f"perfbench: tail_s is p{p:g} of {n} samples\n")
    print(json.dumps(record))


if __name__ == "__main__":
    main()
