"""Percentile, spread and per-layer metric math of the benchmark.

All inputs are plain lists/dicts as the measuring JVM writes them; times
are epoch milliseconds unless a name says otherwise.
"""
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def spread(values):
    """Inter-quartile range as a share of the median, with quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def item_latencies(slices, item_batch, commits, lo, hi):
    """Latency (ms) of every item in [lo, hi): from when its slice was due
    on the generator's schedule (so generator lateness counts) to the end
    of the trigger that emitted it. Returns (latencies, missing)."""
    drop = {}
    for s in slices:
        for i in range(s["first"], s["first"] + s["n"]):
            drop[i] = s["sched_ms"]
    batch_of = {int(i): int(b) for i, b in item_batch}
    end_of = {int(c["batch_id"]): c["end_ms"] for c in commits}
    lat, missing = [], 0
    for i in range(lo, hi):
        b = batch_of.get(i)
        if b is None or b not in end_of or i not in drop:
            missing += 1
        else:
            lat.append(end_of[b] - drop[i])
    return lat, missing


def spark_layers(listener, units, wall_ms, cores):
    """Per-work-unit Spark metrics from the raw TaskLog records of jobs
    and tasks that started inside a unit. `units` are (start_ms, end_ms)
    pairs; `wall_ms` and `cores` scale the CPU utilisation."""
    n = max(1, len(units))

    def inside(t):
        return any(a <= t <= b for a, b in units)
    jobs = [j for j in listener["jobs"] if inside(j["start_ms"])]
    tasks = [t for t in listener["tasks"] if inside(t["launch_ms"])]
    hi = max((b for _, b in units), default=0.0)
    job_iv = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else hi) for j in jobs]
    gaps = [(b - a) - covered_ms(job_iv, a, b) for a, b in units]

    def tsum(k):
        return sum(t[k] for t in tasks)

    delays = [max(0.0, (t["finish_ms"] - t["launch_ms"]) - t["run_ms"] - t["deser_ms"]
                  - t["result_ser_ms"] - t["getting_result_ms"]) for t in tasks]
    cpu_s = tsum("cpu_ns") / 1e9
    return {
        "spark.jobs_per_item": len(jobs) / n,
        "spark.stages_per_item": len({t["stage"] for t in tasks}) / n,
        "spark.tasks_per_item": len(tasks) / n,
        "spark.driver_gap_ms": sum(gaps) / n,
        "spark.task_cpu_s": cpu_s / n,
        "spark.cpu_util": cpu_s / max(1e-9, wall_ms / 1000.0 * cores),
        "spark.scheduler_delay_ms": sum(delays) / len(delays) if delays else 0.0,
        "spark.shuffle_read_bytes": tsum("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes": tsum("shuffle_write_bytes") / n,
        "spark.shuffle_fetch_wait_ms": tsum("fetch_wait_ms") / n,
        "spark.gc_ms": tsum("gc_ms") / n,
        "spark.spill_bytes": tsum("spill_bytes") / n,
        "spark.failed_tasks": float(sum(1 for t in tasks if not t["ok"])),
        "spark.result_bytes_to_driver": tsum("result_bytes") / n,
        "tables.scan_bytes": tsum("input_bytes") / n,
    }


def span_stats(spans, name):
    """Durations (ms) of every span called `name`."""
    return [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name]


def _err(part, whole):
    return abs(1.0 - part / whole) if whole > 0 else 1.0


def reconcile_stream(spans, children, progress, slices, item_batch, commits, lo, hi):
    """How far the layer spans and the item walls of a stream window miss
    the StreamingQueryListener's own clock. Returns three shares:
    - spans_vs_add_batch: the `children` spans inside each row-bearing
      trigger against that trigger's addBatch;
    - phases_vs_trigger: the trigger's named phases against its
      triggerExecution;
    - item_wall: for items [lo, hi), the wait from the item's due time
      to the start of the trigger that emitted it plus that trigger's
      triggerExecution, against the item's measured latency."""
    rows = [p for p in progress if p["rows"] > 0]
    kids = [s for s in spans if s["name"] in children]
    span_ms = add_ms = 0.0
    for p in rows:
        a = p["start_ms"]
        b = a + p["duration_ms"].get("triggerExecution", 0.0)
        inside = [s["end_ms"] - s["start_ms"] for s in kids if a <= s["start_ms"] <= b]
        if inside:
            span_ms += sum(inside)
            add_ms += p["duration_ms"].get("addBatch", 0.0)
    phases = ("addBatch", "queryPlanning", "getBatch", "walCommit", "latestOffset",
              "commitOffsets", "commitBatch")
    trig = sum(p["duration_ms"].get("triggerExecution", 0.0) for p in rows)
    parts = sum(sum(p["duration_ms"].get(k, 0.0) for k in phases) for p in rows)
    due = {}
    for s in slices:
        for i in range(s["first"], s["first"] + s["n"]):
            due[i] = s["sched_ms"]
    batch_of = {int(i): int(b) for i, b in item_batch}
    end_of = {int(c["batch_id"]): c["end_ms"] for c in commits}
    prog = {int(p["batch_id"]): p for p in rows}
    wall = comp = 0.0
    for i in range(lo, hi):
        b = batch_of.get(i)
        if i in due and b in end_of and b in prog:
            p = prog[b]
            wall += end_of[b] - due[i]
            comp += p["start_ms"] + p["duration_ms"].get("triggerExecution", 0.0) - due[i]
    return {"spans_vs_add_batch": _err(span_ms, add_ms),
            "phases_vs_trigger": _err(parts, trig),
            "item_wall": _err(comp, wall)}


def reconcile_olap(spans, action_ms, units):
    """How far the query spans miss Spark's own clock: the `operators.exec`
    spans against the QueryExecutionListener durations of the collects,
    and build + plan + those durations against the query walls."""
    def total(name):
        return sum(span_stats(spans, name))
    listened = sum(action_ms)
    wall = sum(b - a for a, b in units)
    return {"exec_vs_listener": _err(total("operators.exec"), listened),
            "item_wall": _err(total("operators.build") + total("operators.plan") + listened, wall)}


def progress_layers(progress, slices, per_slice):
    """Streaming trigger phases from StreamingQueryListener progress, over
    row-bearing triggers, plus the file backlog each trigger started with."""
    rows = sorted((p for p in progress if p["rows"] > 0), key=lambda p: p["batch_id"])

    def med(k):
        xs = [p["duration_ms"].get(k, 0.0) for p in rows]
        return median(xs) if xs else 0.0

    drops = sorted(s["drop_ms"] for s in slices)
    consumed, backlog = 0, []
    for p in rows:
        dropped = sum(1 for d in drops if d <= p["start_ms"])
        backlog.append(max(0, dropped - consumed // per_slice))
        consumed += p["rows"]
    return {
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.get_batch_ms": med("getBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.rows_per_trigger": (sum(p["rows"] for p in rows) / len(rows)) if rows else 0.0,
        "sources.backlog_files": (sum(backlog) / len(backlog)) if backlog else 0.0,
    }


def lateness(slices):
    """Generator lateness (ms): drop stamp minus scheduled stamp."""
    late = [s["drop_ms"] - s["sched_ms"] for s in slices]
    return {"mean_ms": sum(late) / len(late), "max_ms": max(late)} if late else {}
