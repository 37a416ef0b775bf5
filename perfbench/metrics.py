"""Turns the JVM's raw operation timings and traces into the printed
metrics. The last stdout line carries exactly the metrics BENCHMARK.json
lists; every other figure (the workload-specific names, tails with
their sample counts, output sizes) is printed on the lines before it.
"""
import statistics

PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, label, sample count); the maximum when there are too few."""
    s = sorted(xs)
    for p in PERCENTILES:
        v = s[min(len(s) - 1, int(p / 100 * len(s)))]
        if sum(1 for x in s if x > v) >= 10:
            return v, f"p{p:g}", len(s)
    return (s[-1] if s else None), "max", len(s)


def _seconds(ops, kind=None):
    return [o["seconds"] for o in ops if "error" not in o and (kind is None or o["kind"] == kind)]


def primary(workload, ops):
    """(op_s_p50, throughput_per_s, named metrics) of one phase."""
    if workload == "health-daily":
        daily = _seconds(ops, "daily")
        back = _seconds(ops, "backfill")
        days = sum(o["items"] for o in ops if o["kind"] == "daily")
        t, label, n = tail(daily) if daily else (None, "max", 0)
        named = [("daily_run_s_p50", median(daily), "s"),
                 (f"daily_run_s_tail[{label},n={n}]", t, "s"),
                 (f"backfill_s_p50[n={len(back)}]", median(back), "s")]
        return median(daily), (days / sum(daily) if daily else None), named
    if workload == "events-scan":
        good = [o for o in ops if "error" not in o]
        per_query = {}
        for o in good:
            per_query.setdefault(o["kind"], []).append(o["seconds"])
        q50 = median([median(v) for v in per_query.values()])
        total = sum(o["seconds"] for o in ops)
        rate = sum(o["items"] for o in good) / total if total else None
        return q50, rate, [("query_s_p50", q50, "s"), ("events_rows_per_s", rate, "rows/s")]
    ingest = _seconds(ops, "ingest")
    total = sum(o["seconds"] for o in ops)
    rate = sum(o["items"] for o in ops if "error" not in o) / total if total else None
    return median(ingest), rate, [("ingest_s_p50", median(ingest), "s"),
                                  ("ingest_docs_per_s", rate, "docs/s")]


def report(workload, trace, res, failures, spec, gen_s):
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if "error" in o) + \
        sum(1 for o in res["warmup_ops"] if "error" in o)
    op50, rate, named = primary(workload, ops)
    e2e = {
        "op_s_p50": op50,
        "throughput_per_s": rate,
        "setup_s": res["setup_s"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    lines = [("setup_s", res["setup_s"], "s"),
             ("ops_failed_frac", failed / max(attempted, 1), "fraction"),
             ("retained_heap_mb", res["retained_heap_mb"], "MB"),
             ("stored_mb", res["stored_mb"], "MB")] + named + [
             ("setup.jvm_and_spark_s", res["session_s"], "s"),
             ("setup.workload_s", res["workload_setup_s"], "s"),
             ("input_generation_s", gen_s, "s"),
             ("warmup_ops", len(res["warmup_ops"]), "count"),
             ("timed_ops", attempted, "count")]

    layer = {}
    if trace:
        layer = dict(res["per_layer"])
        traced50, _, _ = primary(workload, res["traced_ops"])
        layer["trace.overhead_s_per_op"] = traced50 - op50
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        lines += [(k, v, units.get(k, "")) for k, v in sorted(layer.items())]

    for name, value, unit in lines:
        print(f"metric {name} = {value} {unit}".rstrip())
    for f in failures:
        print(f"check FAILED: {f}")
    for o in ops + res["warmup_ops"] + res.get("traced_ops", []):
        if "error" in o:
            print(f"op FAILED ({o['kind']}): {o['error']}")

    if trace:
        # a layer the workload never calls (the ingest spans on
        # events-scan, the per-query times on corpus-ingest) did no work
        values = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        values = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                  for m in spec["end_to_end"]}
    missing = [k for k, v in values.items() if v["value"] is None]
    for k in missing:
        print(f"metric {k} was not measured")
    return {"correct": not failures and failed == 0 and not missing,
            "attempted": attempted, "failed": failed, "metrics": values}
