"""The repository benchmark: four workloads over the program's own entry
points, measured end to end (--trace 0) or per layer (--trace 1).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program from source
(perfbench/build.py), generates the workload's inputs from --seed,
runs the measuring JVM (graft.perfbench.Main), checks the outputs,
and prints a report line and then the result line on stdout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dedup_stream", "dedup_archive", "ferret_stream", "olap_mix")
DEADLINE_S = 170  # the run must end within 180 s
RECONCILE_TOLERANCE = 0.10  # layer self-times vs item wall
FERRET_ROW_BYTES = 8 + 8 + 8 + 4
LOADED_SHARE = 0.25  # share of the machine others may take (CPU or steal) before a run is flagged
E2E = ("setup_s", "latency_p50_ms", "latency_p90_ms", "items_per_s", "input_mb_per_s",
       "archive_bytes_per_input_byte", "recall_at_10", "retained_heap_mb")
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms", "items_per_s": "1/s",
         "input_mb_per_s": "MB/s", "archive_bytes_per_input_byte": "ratio",
         "recall_at_10": "ratio", "retained_heap_mb": "MB"}
JDK17_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# per-workload knobs; every one is fixed, only --seed varies the inputs
PARAMS = {
    "dedup_stream": {"items_per_s": 200, "slice_ms": 250, "warm_triggers": 2, "heap": "2g"},
    "ferret_stream": {"items_per_s": 50, "slice_ms": 250, "warm_triggers": 3, "corpus": 2000,
                      "heap": "2g"},
    "olap_mix": {"sf": 0.01, "heap": "2g"},
    "dedup_archive": {"files": 8, "copies": 3, "stream_bytes": 4 << 20, "pass_s": 1.0,
                      "heap": "512m", "child_heap": "1g"},
}


def java(heap, tmp, cp):
    return (["java"] + [x for o in JDK17_OPENS for x in ("--add-opens", o)]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp)])


def pool_size(p, seconds):
    """Stream items for the cold pass (up to 40 s on a loaded machine),
    the measured window and, in a traced run, the untraced window."""
    return int(p["items_per_s"] * (seconds * 1.5 + 40))


def generate(workload, seed, seconds, inp):
    """Write the workload's inputs under `inp`; return a description."""
    p = PARAMS[workload]
    if workload == "dedup_stream":
        texts, repeats = gen.documents(seed, pool_size(p, seconds))
        gen.write_doc_pool(os.path.join(inp, "docs.tsv"), texts)
        return {"docs": len(texts), "repeats": repeats}
    if workload == "ferret_stream":
        corpus, order = gen.ferret_inputs(seed, inp, p["corpus"])
        return {"corpus": len(corpus), "queries": len(order),
                "bucket_occupancy": gen.bucket_occupancy(corpus)}
    if workload == "olap_mix":
        return {"rows": gen.tables(seed, inp, p["sf"])}
    if workload == "dedup_archive":
        _, total = gen.archive_corpus(seed, inp, p["files"], p["copies"], p["stream_bytes"])
        return {"bytes": total}
    raise ValueError(workload)


def dir_bytes(d):
    files = [f for f in gen.files_under(d) if not os.path.basename(f).startswith((".", "_"))]
    return len(files), sum(os.path.getsize(f) for f in files)


# ---- metrics per workload ------------------------------------------------
def stream_metrics(r, phase):
    """Latencies and rates of one stream phase."""
    ph = r["phases"][phase]
    commits = ph.get("commits", r.get("commits"))
    item_batch = ph.get("item_batch", r.get("item_batch"))
    lat, missing = stats.item_latencies(ph["slices"], item_batch, commits,
                                        ph["first_item"], ph["end_item"])
    first_drop = min(s["drop_ms"] for s in ph["slices"])
    ids = {int(i) for i, _ in item_batch if ph["first_item"] <= int(i) < ph["end_item"]}
    batches = {int(b) for i, b in item_batch if int(i) in ids}
    last_end = max(c["end_ms"] for c in commits if int(c["batch_id"]) in batches)
    units = [(c["start_ms"], c["end_ms"]) for c in commits if int(c["batch_id"]) in batches]
    return {"lat": lat, "missing": missing, "items": ph["end_item"] - ph["first_item"],
            "seconds": (last_end - first_drop) / 1000.0, "units": units}


def stream_result(w, r, inp):
    s = stream_metrics(r, "main")
    items, secs = s["items"], s["seconds"]
    out = {"setup_s": r["setup"]["setup_s"],
           "latency_p50_ms": stats.percentile(s["lat"], 50),
           "latency_p90_ms": stats.percentile(s["lat"], 90),
           "items_per_s": (items - s["missing"]) / secs}
    failed = s["missing"]
    info = {"samples": len(s["lat"])}
    if w == "dedup_stream":
        ck = r["checks"]
        ok = ck["dense"] and ck["firsts_ok"]
        failed = items if not ok else max(failed, ck["bad_items"])
        lo, hi = r["phases"]["main"]["first_item"], r["phases"]["main"]["end_item"]
        with open(os.path.join(inp, "docs.tsv")) as f:
            texts = [line.split("\t", 1)[1].rstrip("\n") for line in f]
        in_bytes = sum(len(t.encode()) for t in texts[lo:hi])
        out["input_mb_per_s"] = in_bytes / 1048576 / secs
        out["archive_bytes_per_input_byte"] = ck["archive_bytes"] / ck["input_bytes"]
        out["recall_at_10"] = ck["first_recall"]
        info.update({k: ck[k] for k in ("dense", "firsts_ok", "bad_items", "rows", "firsts")})
    else:
        recall, missing_q = ferret_recall(r, inp, "main")
        failed = max(failed, missing_q)
        out["input_mb_per_s"] = items * gen.DIM * 4 / 1048576 / secs
        # result rows (query_id, vec_id, cos, rank) per query-vector byte
        out["archive_bytes_per_input_byte"] = (r["sink_rows"] * FERRET_ROW_BYTES
                                               / (len(r["item_batch"]) * gen.DIM * 4))
        out["recall_at_10"] = recall
        info["recall_queries"] = items
    return out, items, failed, info


def ferret_recall(r, inp, phase):
    """Mean top-10 recall of the streamed results against exact cosine
    top-10, over the phase's queries; and the number with no result."""
    import numpy as np
    import pyarrow.dataset as ds
    ph = r["phases"][phase]
    lo, hi = ph["first_item"], ph["end_item"]
    corpus = ds.dataset(os.path.join(inp, "embeddings.parquet")).to_table()
    cv = np.stack(corpus.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    assert (corpus.column("vec_id").to_numpy() == np.arange(len(cv))).all()
    qids = np.fromfile(os.path.join(inp, "query_ids.i64"), dtype="<i8")[lo:hi]
    truth = gen.brute_force_topk(cv, qids, 10)
    res = ds.dataset(r["sink"], format="parquet").to_table(columns=["query_id", "vec_id"])
    got = {}
    for qid, vid in zip(res.column("query_id").to_pylist(), res.column("vec_id").to_pylist()):
        got.setdefault(qid, set()).add(vid)
    hits, missing = 0, 0
    for k, qid in enumerate(qids.tolist()):
        g = got.get(qid)
        if g is None:
            missing += 1
        else:
            hits += len(g & set(truth[k].tolist()))
    return hits / (10.0 * (hi - lo)), missing


def olap_check(r, inp):
    """Each key's last result against its oracle SQL in DuckDB; returns
    the set of mismatching keys."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        f = os.path.join(inp, f"{t}.parquet")
        if os.path.exists(f):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = set()
    for key, sql in r["oracle_sql"].items():
        d = os.path.join(r["check_dir"], key)
        files = sorted(f for f in gen.files_under(d) if f.endswith(".parquet"))
        if not files:
            bad.add(key)
            continue
        s = canon(pd.concat([pd.read_parquet(f) for f in files]))
        o = canon(con.sql(sql).df())
        try:
            ok = (list(s.columns) == list(o.columns) and len(s) == len(o)
                  and s.equals(o.astype(s.dtypes.to_dict())))
        except (ValueError, TypeError):
            ok = False
        if not ok:
            bad.add(key)
    return bad


def olap_result(r, inp):
    ph = r["phases"]["main"]
    units = ph["units"]
    lat = [u["end_ms"] - u["start_ms"] for u in units]
    secs = (ph["t1_ms"] - ph["t0_ms"]) / 1000.0
    bad = olap_check(r, inp)
    failed = sum(1 for u in units if u["key"] in bad)
    in_bytes = sum(r["key_input_bytes"][u["key"]] for u in units)
    out_bytes = sum(dir_bytes(os.path.join(r["check_dir"], u["key"]))[1] for u in units)
    out = {"setup_s": r["setup"]["setup_s"],
           "latency_p50_ms": stats.percentile(lat, 50),
           "latency_p90_ms": stats.percentile(lat, 90),
           "items_per_s": len(units) / secs,
           "input_mb_per_s": in_bytes / 1048576 / secs,
           "archive_bytes_per_input_byte": out_bytes / in_bytes,
           "recall_at_10": 1.0 - len(bad) / len(r["oracle_sql"])}
    return out, len(units), failed, {"samples": len(lat), "bad_keys": sorted(bad),
                                     "rounds": len(units) / len(r["oracle_sql"])}


def archive_passes(r, phase):
    return [p for p in r["phases"][phase]["passes"] if p["tag"] == "warm"]


def pass_walls(r, phase):
    """Seconds of each warm pass as the benchmark saw it: from the end of
    the previous pass to the child's report of this pass's last stage."""
    return [(p["laps_end_ms"] - p["start_ms"]) / 1000.0 for p in archive_passes(r, phase)]


def archive_result(r):
    ph = r["phases"]["main"]
    res = json.loads(ph["result"])
    walls = pass_walls(r, "main")
    cold = [p for p in ph["passes"] if p["tag"] == "cold"][0]
    # deflated pieces plus one SHA-1 reference and length per chunk: the
    # content of the reference's .ddp container
    arch = res["warm"]["out_mb"] * 1048576 + (20 + 4) * res["warm"]["n_chunks"]
    in_mb = r["input_bytes"] / 1048576
    bad = res["restore_mismatches"]
    n_files = PARAMS["dedup_archive"]["files"]
    out = {"setup_s": (cold["end_ms"] - r["env"]["jvm_start_ms"]) / 1000.0,
           "latency_p50_ms": stats.percentile(walls, 50) * 1000,
           "latency_p90_ms": stats.percentile(walls, 90) * 1000,
           "items_per_s": len(walls) / sum(walls),
           "input_mb_per_s": len(walls) * in_mb / sum(walls),
           "archive_bytes_per_input_byte": arch / r["input_bytes"],
           "recall_at_10": 1.0 - bad / n_files}
    failed = len(walls) if bad else 0
    return out, len(walls), failed, {"samples": len(walls), "restore_mismatches": bad,
                                     "dup_pct": res["warm"]["dup_pct"]}


# ---- per-layer metrics ---------------------------------------------------
def layer_metrics(w, r):
    """Every per-layer metric, 0 where the workload does not exercise the
    layer; plus a dict of trace diagnostics."""
    m = {k: 0.0 for k in PER_LAYER}
    diag = {}
    ph = r["phases"]["main"]
    if w in ("dedup_stream", "ferret_stream"):
        s = stream_metrics(r, "main")
        m.update(stats.spark_layers(ph["listener"], s["units"],
                                    sum(b - a for a, b in s["units"]), ph["cores"]))
        m.update(stats.progress_layers(ph["progress"], ph["slices"], r["items_per_slice"]))
        m["sessions.start_s"] = r["setup"]["session_start_s"]
        spans = ph["spans"]
        if w == "dedup_stream":
            m["streaming.five_stage_call_ms"] = stats.median(stats.span_stats(spans, "streaming.five_stage_call"))
            m["streaming.emit_ms"] = stats.median(stats.span_stats(spans, "streaming.emit"))
            files, size = dir_bytes(r["store"])
            m["streaming.store_files"], m["streaming.store_bytes"] = float(files), float(size)
            m["streaming.first_ratio"] = r["checks"]["firsts"] / r["checks"]["rows"]
            m["functions.cdc_sha1_mb_s"] = r["kernels"]["cdc_sha_mb_s"]
            m["functions.deflate_mb_s"] = r["kernels"]["deflate_mb_s"]
            kids = ("streaming.five_stage_call", "streaming.emit")
        else:
            m["operators.ferret_search_ms"] = stats.median(stats.span_stats(spans, "operators.ferret_search"))
            m["operators.ferret_candidates_per_query"] = ph["candidates"] / max(1, s["items"])
            kids = ("operators.ferret_search",)
        diag["reconcile"] = stats.reconcile_stream(spans, kids, ph["progress"], ph["slices"],
                                                   r["item_batch"], r["commits"],
                                                   ph["first_item"], ph["end_item"])
        unt = stream_metrics(r, "untraced")
        one = stream_metrics(r, "local1")
        t50, u50 = stats.median(s["lat"]), stats.median(unt["lat"])
        diag["overhead_p50_ms"] = t50 - u50
        diag["overhead_pct"] = 100 * (t50 - u50) / u50

        def service(x):
            return sum(b - a for a, b in x["units"]) / max(1, x["items"])
        m["spark.parallel_speedup"] = service(one) / service(s)
        diag["lateness"] = {k: stats.lateness(r["phases"][k]["slices"]) for k in r["phases"]}
    elif w == "olap_mix":
        units = [(u["start_ms"], u["end_ms"]) for u in ph["units"]]
        m.update(stats.spark_layers(ph["listener"], units, ph["t1_ms"] - ph["t0_ms"], ph["cores"]))
        m["sessions.start_s"] = r["setup"]["session_start_s"]
        m["operators.plan_ms"] = stats.median(stats.span_stats(ph["spans"], "operators.plan"))
        m["operators.exec_ms"] = stats.median(stats.span_stats(ph["spans"], "operators.exec"))
        diag["reconcile"] = stats.reconcile_olap(ph["spans"], ph["action_ms"], units)

        def per_query(p):
            us = r["phases"][p]["units"]
            return sum(u["end_ms"] - u["start_ms"] for u in us) / len(us)
        t, u = per_query("main"), per_query("untraced")
        diag["overhead_p50_ms"] = t - u
        diag["overhead_pct"] = 100 * (t - u) / u
        m["spark.parallel_speedup"] = per_query("local1") / t
    else:
        warm = archive_passes(r, "main")
        units = [(p["start_ms"], p["laps_end_ms"]) for p in warm]
        lst = ph["listener"]
        m.update(stats.spark_layers(lst, units, sum(b - a for a, b in units), r["env"]["cores"]))
        m["sessions.start_s"] = (lst["app_start_ms"] - lst["jvm_start_ms"]) / 1000.0
        m["sources.read_chunk_s"] = stats.median([p["laps"]["chunk+refs"] for p in warm])
        m["operators.dedup_pieces_s"] = stats.median([p["laps"]["pieces_write"] for p in warm])
        m["functions.cdc_sha1_mb_s"] = r["kernels"]["cdc_sha_mb_s"]
        m["functions.deflate_mb_s"] = r["kernels"]["deflate_mb_s"]
        laps = sum(sum(p["laps"].values()) for p in warm) * 1000
        observed = sum(b - a for a, b in units)
        # the child's own stage laps against the pass as the parent saw it
        diag["reconcile"] = {"laps_vs_pass": abs(1 - laps / observed)}

        def per_pass(p):
            ws = pass_walls(r, p)
            return sum(ws) / len(ws)
        t, u = per_pass("main"), per_pass("untraced")
        diag["overhead_p50_ms"] = (t - u) * 1000
        diag["overhead_pct"] = 100 * (t - u) / u
        m["spark.parallel_speedup"] = per_pass("local1") / t
    diag.update(reconciled(diag["reconcile"]))
    return m, diag


def reconciled(errs):
    """The worst reconcile error of a traced run and whether it is within
    the tolerance."""
    worst = max(errs.values())
    return {"reconcile_err": worst, "reconcile_ok": worst <= RECONCILE_TOLERANCE,
            "reconcile_tolerance": RECONCILE_TOLERANCE}


PER_LAYER = {
    "sessions.start_s": "s", "sources.read_chunk_s": "s", "functions.cdc_sha1_mb_s": "MB/s",
    "functions.deflate_mb_s": "MB/s", "operators.dedup_pieces_s": "s",
    "streaming.five_stage_call_ms": "ms", "streaming.emit_ms": "ms",
    "streaming.store_files": "count", "streaming.store_bytes": "bytes",
    "streaming.first_ratio": "ratio", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.rows_per_trigger": "count", "sources.backlog_files": "count",
    "operators.ferret_search_ms": "ms", "operators.ferret_candidates_per_query": "count",
    "operators.plan_ms": "ms", "operators.exec_ms": "ms",
    "spark.jobs_per_item": "count", "spark.stages_per_item": "count",
    "spark.tasks_per_item": "count", "spark.driver_gap_ms": "ms", "spark.task_cpu_s": "s",
    "spark.cpu_util": "ratio", "spark.scheduler_delay_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_ms": "ms", "spark.gc_ms": "ms", "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count", "spark.result_bytes_to_driver": "bytes",
    "tables.scan_bytes": "bytes", "spark.parallel_speedup": "ratio",
}


def env_record(w, r):
    """N, nproc, heap and the EnvTelemetry contention of the measured
    window; `loaded` flags a run whose window was contended."""
    env = dict(r["env"])
    main = r["phases"]["main"]
    nproc = os.cpu_count() or 1
    if w == "dedup_archive":
        passes = archive_passes(r, "main")
        e = {k: sum(p["env"][k] for p in passes) for k in ("our_cpu_s", "other_cpu_s", "steal_s")}
        e["load"] = max(p["env"]["load"] for p in passes)
        wall = sum(pass_walls(r, "main"))
    else:
        e = main["env"]
        wall = (main["t1_ms"] - main["t0_ms"]) / 1000.0
    env.update(e)
    # the load average counts this run's own threads, so only CPU burned
    # by other processes or stolen by the hypervisor decides the flag
    env["loaded"] = e["other_cpu_s"] + e["steal_s"] > LOADED_SHARE * wall * nproc
    env["nproc"] = nproc
    return env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cp, source_digest = build.build()
    except build.BuildFailure as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    cores = min(4, os.cpu_count() or 1)
    w, p = a.workload, PARAMS[a.workload]
    work = os.path.join(build.OUT, "runs", f"{w}-{a.seed}-{os.getpid()}")
    inp, tmp = os.path.join(work, "in"), os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(inp)
    os.makedirs(tmp)
    try:
        t_gen = time.time()
        desc = generate(w, a.seed, a.seconds, inp)
        desc["digest"] = gen.digest_files(gen.files_under(inp))
        gen_s = time.time() - t_gen
        params = {"workload": w, "in": inp, "work": work, "seconds": a.seconds, "cores": cores,
                  "trace": a.trace, "seed": a.seed}
        params.update({k: v for k, v in p.items() if not isinstance(v, str)})
        if w == "dedup_archive":
            params["warm_passes"] = max(3, round(a.seconds / p["pass_s"]))
            params["child_java"] = java(p["child_heap"], tmp, cp)
        with open(os.path.join(work, "params.json"), "w") as f:
            json.dump(params, f)
        result_path = os.path.join(work, "result.json")
        cmd = java(p["heap"], tmp, cp) + ["graft.perfbench.Main",
                                          os.path.join(work, "params.json"), result_path]
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            _, err = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            print("measuring JVM timed out", file=sys.stderr)
            return 3
        finally:
            # the JVM and a RefCompare child share the JVM's process group
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(result_path):
            print(err[:3000] + "\n...\n" + err[-3000:], file=sys.stderr)
            print(f"measuring JVM failed with {proc.returncode}", file=sys.stderr)
            return 4
        with open(result_path) as f:
            r = json.load(f)
        if w in ("dedup_stream", "ferret_stream"):
            e2e, attempted, failed, info = stream_result(w, r, inp)
        elif w == "olap_mix":
            e2e, attempted, failed, info = olap_result(r, inp)
        else:
            e2e, attempted, failed, info = archive_result(r)
        e2e["retained_heap_mb"] = r["retained_heap_mb"] + r.get("child_retained_heap_mb", 0.0)
        report = {"workload": w, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "inputs": desc, "input_gen_s": gen_s, "source_digest": source_digest,
                  "env": env_record(w, r), "failed_ratio": failed / max(1, attempted),
                  "checks": info, "end_to_end": e2e}
        if w in ("dedup_stream", "ferret_stream"):
            report["generator_lateness"] = stats.lateness(r["phases"]["main"]["slices"])
        if a.trace:
            layers, diag = layer_metrics(w, r)
            report["trace"] = diag
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
        print(json.dumps({"report": report}))
        correct = failed == 0 and (not a.trace or report["trace"]["reconcile_ok"])
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
