"""Metrics and output checks over one run's raw measurements.

`result.json` (written by perfbench.Main) holds per-op timings split into
construct / plan / exec phases, the pins read after each op, the ETL sink
outputs, and, in traced runs, the span tree with every Spark job parented
by the phase or micro-batch it started in.
"""
import importlib.util
import json
import os
import statistics

import pandas as pd

WORKLOADS = ("dedup_graph", "daily_tick")


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _ops(res, unit):
    return [o for o in res["ops"] if o["unit"] == unit]


def _total(res, unit):
    """A pass or day costs the sum of its ops' wall times (pin probes and
    output checks between ops are not part of it)."""
    return sum(o["wall_s"] for o in _ops(res, unit))


# ------------------------------------------------------------ end to end

def end_to_end(res):
    cold, warm = res["units"][:2]
    setup = res["setup"]
    return {
        "setup_s": _m(setup["build_s"] + setup["first_scan_s"], "s"),
        "cold_total_s": _m(_total(res, cold), "s"),
        "warm_total_s": _m(_total(res, warm), "s"),
    }


# ------------------------------------------------------------- per layer

def per_layer(res, out):
    """Layer metrics of the traced warm unit (the third unit), plus the
    cold/warm ratios and the recorder's own overhead, priced against the
    mean of the untraced warm units just before and after it."""
    units = res["units"]
    cold, warm, plain = units[0], units[2], (units[1], units[3])
    tr = res["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    aggs = tr["aggs"]
    ops = _ops(res, warm)

    def agg_sum(keys, field):
        return sum(aggs[k][field] for k in keys if k in aggs)

    def phase_keys(phases):
        return ["%s/%s/%s" % (warm, o["name"], p) for o in ops for p in phases]

    # micro-batches that ran inside the warm unit
    u = spans[warm]
    batch_spans = ["batch=%d" % b["batch"] for b in tr["batches"]
                   if u["start_ms"] <= b["start_ms"] <= u["end_ms"]]
    exec_keys = phase_keys(["exec", "run"]) + batch_spans
    exec_s = sum(o["exec_s"] for o in ops)
    run_s = agg_sum(exec_keys, "task_run_s")
    m = {
        "session.build_s": _m(res["setup"]["build_s"], "s"),
        "session.first_scan_s": _m(res["setup"]["first_scan_s"], "s"),
        "query.construct_s": _m(sum(o["construct_s"] for o in ops), "s"),
        "query.construct_jobs": _m(agg_sum(phase_keys(["construct"]), "jobs"), "count"),
        "plan.s": _m(sum(o["plan_s"] for o in ops), "s"),
        "exec.s": _m(exec_s, "s"),
        "exec.jobs": _m(agg_sum(exec_keys, "jobs"), "count"),
        "exec.stages": _m(agg_sum(exec_keys, "stages"), "count"),
        "exec.tasks": _m(agg_sum(exec_keys, "tasks"), "count"),
        "exec.task_cpu_s": _m(agg_sum(exec_keys, "task_cpu_s"), "s"),
        "exec.task_run_s": _m(run_s, "s"),
        "exec.slot_busy_frac": _m(run_s / (exec_s * res["cores"]) if exec_s else 0.0, "ratio"),
        "exec.task_wait_s": _m(agg_sum(exec_keys, "task_wait_s"), "s"),
        "exec.shuffle_write_mb": _m(agg_sum(exec_keys, "shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": _m(agg_sum(exec_keys, "shuffle_read_mb"), "MB"),
        "exec.spill_mb": _m(agg_sum(exec_keys, "spill_mb"), "MB"),
        "exec.gc_s": _m(agg_sum(exec_keys, "gc_s"), "s"),
    }
    m.update(_pins(res, cold, warm, ops))
    m.update(_pipelines(res, warm, ops, aggs))
    m.update(_streaming(res, warm, ops, tr, batch_spans, out))
    traced = _total(res, warm)
    untraced = statistics.mean(_total(res, u) for u in plain)
    base = {}
    for u in plain:
        for o in _ops(res, u):
            base.setdefault(o["name"], []).append(o["wall_s"])
    ratios = [(o["construct_s"] + o["plan_s"] + o["exec_s"]) / statistics.mean(base[o["name"]])
              for o in ops if o["name"] in base]
    m.update({
        "trace.overhead_s": _m(traced - untraced, "s"),
        "trace.overhead_frac": _m((traced - untraced) / untraced if untraced else 0.0, "ratio"),
        "trace.phases_over_untraced_p50": _m(statistics.median(ratios) if ratios else 0.0,
                                             "ratio"),
    })
    with open(os.path.join(out, "self_time.json"), "w") as f:
        json.dump(self_time(tr["spans"]), f, indent=1)
    return m


def _pins(res, cold, warm, ops):
    cold_ops = {o["name"]: o for o in _ops(res, cold)}
    ratios = [cold_ops[o["name"]]["wall_s"] / o["wall_s"] for o in ops
              if o["name"] in cold_ops and o["wall_s"] > 0]
    leaving = sum(1 for o in _ops(res, cold) if o["pins_mb"] > o["pins_mb_before"] + 1e-6)
    return {
        "pins.mb_at_op_end": _m(max((o["pins_mb"] for o in ops), default=0.0), "MB"),
        "pins.rdds_at_op_end": _m(max((o["pin_rdds"] for o in ops), default=0), "count"),
        "pins.ops_leaving_pins": _m(leaving, "count"),
        "pins.mb_end": _m(res["pins_end"]["mb"], "MB"),
        "pins.cold_over_warm_p50": _m(statistics.median(ratios) if ratios else 0.0, "ratio"),
        "pins.cold_over_warm_max": _m(max(ratios, default=0.0), "ratio"),
    }


def _pipelines(res, warm, ops, aggs):
    etl = [o for o in ops if o["kind"] == "etl"]
    outs = [x for x in res["outputs"] if x["unit"] == warm]
    rows = sum(x["rows"] for x in outs)
    keys = ["%s/%s/run" % (warm, o["name"]) for o in etl]
    return {
        "pipelines.job_s": _m(sum(o["wall_s"] for o in etl), "s"),
        "pipelines.rows_out": _m(rows, "count"),
        "pipelines.bytes_out_per_row": _m(sum(x["bytes"] for x in outs) / rows if rows else 0.0,
                                          "B"),
        "pipelines.files_out": _m(sum(x["files"] for x in outs), "count"),
        "pipelines.spark_jobs": _m(sum(aggs[k]["jobs"] for k in keys if k in aggs), "count"),
    }


def _streaming(res, warm, ops, tr, batch_spans, out):
    batches = [o for o in ops if o["name"].startswith("ingest.batch")]
    jobs = [j for j in tr["jobs"] if j["span"] in set(batch_spans) and j["end_ms"] >= 0]
    busy_ms = _union_ms([(j["start_ms"], j["end_ms"]) for j in jobs])
    batch_s = [o["wall_s"] for o in batches]

    def step(name):
        return sum(o["wall_s"] for o in ops if o["name"] == name)
    m = {
        "streaming.batch_s_p50": _m(statistics.median(batch_s) if batch_s else 0.0, "s"),
        "streaming.batch_s_max": _m(max(batch_s, default=0.0), "s"),
        "streaming.jobs_per_batch": _m(len(jobs) / len(batch_s) if batch_s else 0.0, "count"),
        "streaming.batch_busy_frac": _m(busy_ms / 1000.0 / sum(batch_s) if batch_s else 0.0,
                                        "ratio"),
        "streaming.ingest_docs_per_s": _m(
            sum(o["rows"] for o in batches) / sum(batch_s) if batch_s else 0.0, "1/s"),
        "streaming.snapshot_s": _m(step("maint.snapshot"), "s"),
        "streaming.compact_s": _m(step("maint.compact"), "s"),
        "streaming.fsck_s": _m(step("maint.fsck"), "s"),
        "streaming.readback_s": _m(step("maint.readback"), "s"),
    }
    store = os.path.join(out, "store")
    offered = sum(o["rows"] for o in res["ops"] if o["name"].startswith("ingest.batch"))
    readback = [o for o in res["ops"] if o["name"] == "maint.readback"]
    docs = readback[-1]["rows"] if readback else 0
    files, size = _du(store)
    m.update({
        "streaming.admit_frac": _m(docs / offered if offered else 0.0, "ratio"),
        "streaming.store_bytes_per_doc": _m(size / docs if docs else 0.0, "B"),
        "streaming.store_files": _m(files, "count"),
    })
    return m


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _du(path):
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def self_time(spans):
    """Self time per layer: each span's duration minus its children's."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    per = {}
    for s in spans:
        if s["end_ms"] < 0:
            continue
        child = sum(c["end_ms"] - c["start_ms"] for c in kids.get(s["id"], [])
                    if c["end_ms"] >= 0)
        per[s["kind"]] = per.get(s["kind"], 0) + (s["end_ms"] - s["start_ms"] - child)
    return {k: v / 1000.0 for k, v in sorted(per.items())}


# ---------------------------------------------------------------- checks

def check(workload, res, out, inp, oracle, oracle_dir):
    """Returns (failures as (key, message), extra checked items)."""
    if workload == "dedup_graph":
        return _check_queries(res, out, oracle, oracle_dir)
    return _check_daily(res, out, inp), 0


def _check_queries(res, out, counts, oracle_dir):
    """Every op's row count, then the full content of each query's answer
    from the last pass (dumped after all timing)."""
    fails = []
    for o in res["ops"]:
        if o["error"] is None and o["rows"] != counts[o["name"]]:
            fails.append(("%s/%s" % (o["unit"], o["name"]),
                          "rows %d, oracle %d" % (o["rows"], counts[o["name"]])))
    cmp = _load_check_py()
    for name in sorted(counts):
        msg = _compare(cmp, os.path.join(oracle_dir, "answers", name + ".parquet"),
                       os.path.join(out, "answers", name))
        if msg:
            fails.append(("content/" + name, msg))
    return fails, len(counts)


def _load_check_py():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _compare(cmp, expected, got_dir):
    """tools/check.py's cell-by-cell comparison against a stored answer."""
    if not os.path.isdir(got_dir):
        return "no answer written"
    exp = pd.read_parquet(expected)
    got = pd.read_parquet(got_dir)
    if sorted(exp.columns) != sorted(got.columns):
        return "columns differ: %s vs %s" % (sorted(exp.columns), sorted(got.columns))
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    got = got[sorted(got.columns)].reset_index(drop=True)
    if len(exp) != len(got):
        return "rows %d, oracle %d" % (len(got), len(exp))
    for c in exp.columns:
        e, g = exp[c], got[c]
        if not cmp._dtype_ok(e, g):
            return "col %s dtype oracle=%s got=%s" % (c, e.dtype, g.dtype)
        ec = e.astype(object).where(pd.notnull(e), None)
        gc = g.astype(object).where(pd.notnull(g), None)
        bad = [i for i in range(len(e)) if not cmp._eq(ec[i], gc[i])]
        if bad:
            return "col %s: %d cells differ, first@%d oracle=%r got=%r" % (
                c, len(bad), bad[0], ec[bad[0]], gc[bad[0]])
    return None


def _check_daily(res, out, inp):
    expect = json.load(open(os.path.join(inp, "expect.json")))
    fails = []
    for x in res["outputs"]:
        want = expect["days"][x["unit"].replace("day", "")][x["table"]]
        if x["rows"] != want:
            fails.append(("%s/%s" % (x["unit"], x["job"]),
                          "%s wrote %d rows, expected %d" % (x["table"], x["rows"], want)))
    offered = set()
    exact, junk = set(expect["exact_dup_ids"]), set(expect["junk_ids"])
    for o in res["ops"]:
        day = int(o["unit"].replace("day", ""))
        if o["name"].startswith("ingest.batch") and o["error"] is None:
            b = o["name"].replace("ingest.batch", "")
            with open(os.path.join(inp, "day%d" % day, "batch%s.tsv" % b)) as f:
                ids = [int(line.split("\t", 1)[0]) for line in f if line.strip()]
            offered.update(ids)
            if o["rows"] != len(ids):
                fails.append((_key(o), "offered %d docs, batch has %d" % (o["rows"], len(ids))))
        if o["name"] == "maint.fsck" and o["error"] is None:
            findings = open(os.path.join(out, "fsck_day%d.txt" % day)).read().strip()
            if findings:
                fails.append((_key(o), "fsck findings: " + findings[:300]))
        if o["name"] == "maint.readback" and o["error"] is None:
            rows = [line.split("\t", 1) for line in
                    open(os.path.join(out, "corpus_day%d.tsv" % day)).read().splitlines()
                    if line]
            ids = [int(r[0]) for r in rows]
            texts = [r[1] for r in rows]
            problems = []
            if len(set(ids)) != len(ids):
                problems.append("%d doc_ids stored twice" % (len(ids) - len(set(ids))))
            if len(set(texts)) != len(texts):
                problems.append("%d texts stored twice" % (len(texts) - len(set(texts))))
            if exact & set(ids):
                problems.append("%d seeded exact duplicates admitted" % len(exact & set(ids)))
            if junk & set(ids):
                problems.append("%d junk docs passed the quality gate" % len(junk & set(ids)))
            if set(ids) - offered:
                problems.append("%d ids never offered" % len(set(ids) - offered))
            if problems:
                fails.append((_key(o), "; ".join(problems)))
    return fails


def _key(o):
    return "%s/%s" % (o["unit"], o["name"])
