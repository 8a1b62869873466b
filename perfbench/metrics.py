"""Pure derivations from the driver's raw records: percentiles, interval
unions, span self times, conf diffs and the per-layer breakdown. Nothing here
touches Spark or the file system, so test_metrics.py covers it directly."""
import statistics

MB = 1e6


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least ten samples beyond it, by the
    nearest-rank rule: the 11th-largest value. With ten samples or fewer no
    percentile has ten beyond it, and the largest value is taken. Returns
    (percentile, value, sample count)."""
    n = len(values)
    if n < 11:
        return 100.0, max(values), n
    return 100.0 * (n - 10) / n, sorted(values)[n - 11], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, counting
    only the part inside [lo, hi] when those are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` maps id -> (parent id or None, start, end)."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_length(children.get(sid, []), a, b)
            for sid, (_, a, b) in spans.items()}


def conf_diff(before, after):
    """Conf keys whose value after an operation differs from before it
    (a key set or unset by the operation counts)."""
    return sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))


def latency_s(op):
    return (op["t1"] - op["t0"]) / 1e3


def ops_of(records, win):
    return [r for r in records if r["t"] == "op" and r["win"] == win]


def pass_rate(records, win):
    """Successful operations per second of pass wall time: the median over
    the window's passes, so that one pass slowed by the host moves it less
    than a mean would."""
    ok = {}
    for op in ops_of(records, win):
        ok[op["pass"]] = ok.get(op["pass"], 0) + bool(op.get("ok"))
    return median([ok.get(p["pass"], 0) * 1e3 / (p["t1"] - p["t0"])
                   for p in records if p["t"] == "pass" and p["win"] == win])


def gauge(records, win, at):
    return next(r for r in records if r["t"] == "gauge" and r["win"] == win and r["at"] == at)


def op_structure(records, win):
    """Per traced operation of `win`: its jobs (with phase) and the stages
    and tasks of those jobs. Tasks are tied to operations through the job
    that listed their stage, which holds under concurrent clients."""
    prefix = win + "/"
    jobs = {r["job"]: r for r in records if r["t"] == "job" and (r["op"] or "").startswith(prefix)}
    job_end = {r["job"]: r["end"] for r in records if r["t"] == "job_end"}
    stage_job = {}
    for j in jobs.values():
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])
    per_op = {op["id"]: {"jobs": [], "stages": [], "tasks": []} for op in ops_of(records, win)}
    for j in jobs.values():
        if j["op"] in per_op:
            per_op[j["op"]]["jobs"].append(dict(j, end=job_end.get(j["job"], j["submit"])))
    for r in records:
        if r["t"] in ("stage", "task") and r["stage"] in stage_job:
            j = jobs[stage_job[r["stage"]]]
            if j["op"] in per_op:
                per_op[j["op"]]["stages" if r["t"] == "stage" else "tasks"].append(dict(r, job=j["job"]))
    return per_op


def spans_of(records, win, per_op):
    """pass -> query -> build / plan / action -> job -> stage spans of one
    traced window, as id -> (parent, start ms, end ms)."""
    spans = {}
    for p in records:
        if p["t"] == "pass" and p["win"] == win:
            spans[("pass", p["pass"])] = (None, p["t0"], p["t1"])
    for op in ops_of(records, win):
        oid = op["id"]
        spans[("query", oid)] = (("pass", op["pass"]), op["t0"], op["t1"])
        tb = op["tb"] if op["tb"] is not None else op["t1"]
        spans[("build", oid)] = (("query", oid), op["t0"], tb)
        if op["tb"] is not None:
            tp = op["tp"] if op["tp"] is not None else op["t1"]
            spans[("plan", oid)] = (("query", oid), op["tb"], tp)
            if op["tp"] is not None:
                spans[("action", oid)] = (("query", oid), op["tp"], op["t1"])
        s = per_op[oid]
        for j in s["jobs"]:
            parent = (j["phase"] or "action", oid)
            if parent not in spans:
                parent = ("query", oid)
            spans[("job", j["job"])] = (parent, j["submit"], j["end"])
        for st in s["stages"]:
            if st["submit"] is not None and st["end"] is not None:
                spans[("stage", st["stage"], st["attempt"])] = (("job", st["job"]), st["submit"], st["end"])
    return spans


def op_counts(s):
    """Structural counts of one operation: these should repeat exactly
    between two runs of the same query at fixed data and config."""
    return {
        "jobs": len(s["jobs"]),
        "stages": len(s["stages"]),
        "tasks": len(s["tasks"]),
        "eager_jobs": sum(1 for j in s["jobs"] if j["phase"] == "build"),
        "shuffle_bytes": sum(t["sr_b"] + t["sw_b"] for t in s["tasks"]),
    }


def layer_metrics(records, win, cores):
    """The per-layer breakdown of one traced window, per operation."""
    ops = ops_of(records, win)
    n = max(len(ops), 1)
    per_op = op_structure(records, win)
    spans = spans_of(records, win, per_op)
    selfs = self_times(spans)
    m = {}

    def per(total):
        return total / n

    m["ops.build_s"] = per(sum(((op["tb"] or op["t1"]) - op["t0"]) / 1e3 for op in ops))
    m["ops.eager_jobs"] = per(sum(op_counts(per_op[op["id"]])["eager_jobs"] for op in ops))
    for name, phase in (("analysis", "analysis"), ("optimizer", "optimization"), ("physical", "planning")):
        m["plan.%s_s" % name] = per(sum(op["phases"].get(phase, 0.0) for op in ops))

    idle = queue = action_wall = action_task = 0.0
    tasks_all = []
    for op in ops:
        s = per_op[op["id"]]
        tasks_all += s["tasks"]
        for j in s["jobs"]:
            launches = [t["launch"] for t in s["tasks"] if t["job"] == j["job"]]
            if launches:
                queue += (min(launches) - j["submit"]) / 1e3
        if op["tp"] is not None:
            act_jobs = {j["job"] for j in s["jobs"] if j["phase"] == "action"}
            busy = [(t["launch"], t["finish"]) for t in s["tasks"] if t["job"] in act_jobs]
            wall = (op["t1"] - op["tp"]) / 1e3
            idle += wall - union_length(busy, op["tp"], op["t1"]) / 1e3
            action_wall += wall
            action_task += sum(b - a for a, b in busy) / 1e3
    m["dispatch.jobs"] = per(sum(len(per_op[op["id"]]["jobs"]) for op in ops))
    m["dispatch.stages"] = per(sum(len(per_op[op["id"]]["stages"]) for op in ops))
    m["dispatch.tasks"] = per(len(tasks_all))
    m["dispatch.idle_s"] = per(idle)
    m["dispatch.queue_s"] = per(queue)

    m["exec.task_s"] = per(sum(t["run_ms"] for t in tasks_all) / 1e3)
    m["exec.cpu_s"] = per(sum(t["cpu_ns"] for t in tasks_all) / 1e9)
    m["exec.gc_s"] = per(sum(t["gc_ms"] for t in tasks_all) / 1e3)
    m["exec.input_mb"] = per(sum(t["in_b"] for t in tasks_all) / MB)
    m["exec.input_rows"] = per(sum(t["in_rows"] for t in tasks_all))
    m["exec.shuffle_read_mb"] = per(sum(t["sr_b"] for t in tasks_all) / MB)
    m["exec.shuffle_write_mb"] = per(sum(t["sw_b"] for t in tasks_all) / MB)
    m["exec.spill_mb"] = per(sum(t["spill_b"] for t in tasks_all) / MB)
    m["exec.slot_util"] = action_task / (cores * action_wall) if action_wall > 0 else 0.0

    g0, g1 = gauge(records, win, "start"), gauge(records, win, "end")
    m["memo.build_s"] = per(g1["memo_build_s"] - g0["memo_build_s"])
    m["memo.reader_entries"] = g1["reader_entries"]
    m["cache.stored_mb"] = g1["cache_mb"]
    drops = [r for r in records if r["t"] == "drop" and g0["time"] <= r["time"] <= g1["time"]]
    m["cache.blocks_dropped"] = per(len(drops))
    m["session.conf_changed"] = per(sum(len(conf_diff(op["conf_before"], op["conf_after"])) for op in ops))

    for layer in ("pass", "query", "build", "plan", "action", "job", "stage"):
        m["self.%s_s" % layer] = per(sum(v for k, v in selfs.items() if k[0] == layer) / 1e3)
    return m


def repeatability(records, win_a, win_b):
    """Compares each structural count of the operations two traced windows
    ran in the same slots. Returns the share that repeated per counter and
    the (query, counter, a, b) cases that did not."""
    a, b = op_structure(records, win_a), op_structure(records, win_b)
    slot = lambda op: (op["pass"], op["idx"])
    ops_b = {slot(op): op for op in ops_of(records, win_b)}
    same, total, diffs = {}, 0, []
    for op in ops_of(records, win_a):
        other = ops_b.get(slot(op))
        if other is None or other["q"] != op["q"]:
            continue
        total += 1
        ca, cb = op_counts(a[op["id"]]), op_counts(b[other["id"]])
        for k in ca:
            same[k] = same.get(k, 0) + (ca[k] == cb[k])
            if ca[k] != cb[k]:
                diffs.append((op["q"], k, ca[k], cb[k]))
    return {k: v / total for k, v in same.items()} if total else {}, diffs
