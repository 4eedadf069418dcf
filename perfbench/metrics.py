"""Arithmetic of the benchmark: turns one run's raw measurements (written by
the JVM half, perfbench/src/Main.scala) into the end-to-end and per-layer
metrics named in BENCHMARK.json. Pure functions; tested by test_metrics.py.
"""

import statistics

# Layer calls whose wall time a pass measures. Spark jobs under these spans
# are the pass's own work; jobs of the correctness checks fall outside.
MEASURED_CALLS = {
    "CrawlEngine.run",
    "Graph.pageRankFixedPoint",
    "Graph.hitsFixedPoint",
    "Graph.dupClusters",
    "Bpe.learnMergesWithRounds",
}
PIPELINE_OPS = {
    "pagerank": "Graph.pageRankFixedPoint",
    "hits": "Graph.hitsFixedPoint",
    "cc": "Graph.dupClusters",
    "bpe": "Bpe.learnMergesWithRounds",
}

E2E_UNITS = {
    "urls_per_s": "1/s",
    "pipeline_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
}

LAYER_UNITS = {
    "core.extract_ms_per_page": "ms",
    "core.parse_ms_per_page": "ms",
    "core.clean_ms_per_page": "ms",
    "core.markdown_ms_per_page": "ms",
    "core.text_ms_per_page": "ms",
    "core.pages_per_s_4t": "1/s",
    "core.kernel_share": "ratio",
    "engine.prepare_s": "s",
    "engine.generations": "count",
    "engine.gen_s_p50": "s",
    "engine.gen_s_tail": "s",
    "engine.gen_samples": "count",
    "engine.jobs_per_gen": "count",
    "engine.fixed_s_per_gen": "s",
    "engine.us_per_url": "us",
    "engine.between_gen_share": "ratio",
    "engine.batch_rows_max": "count",
    "engine.results_bytes_per_url": "B",
    "engine.frontier_bytes_per_url": "B",
    "frontier.fresh_ratio": "ratio",
    "frontier.seen_keys": "count",
    "frontier.compaction_writes": "count",
    "frontier.compaction_rows": "count",
    "frontier.seen_bytes_per_url": "B",
    "frontier.bloom_ckpt_bytes_per_url": "B",
    "frontier.bloom_probe_ns": "ns",
    "pipeline.pagerank_s": "s",
    "pipeline.hits_s": "s",
    "pipeline.cc_s": "s",
    "pipeline.bpe_s": "s",
    "pipeline.pagerank_jobs": "count",
    "pipeline.hits_jobs": "count",
    "pipeline.cc_jobs": "count",
    "pipeline.bpe_jobs": "count",
    "pipeline.bpe_rounds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_gc_s": "s",
    "spark.spill_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.executor_busy_share": "ratio",
    "trace.overhead_share": "ratio",
    "failed_share": "ratio",
    "peak_rss_mb": "MiB",
}


def median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def tail_percentile(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, sample count), or None when there are too
    few samples for such a percentile to exist."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond - 1  # 0-based rank with exactly `beyond` ranks above it
    return (100.0 * (k + 1) / n, xs[k], n)


def linear_fit(xs, ys):
    """Least-squares line y = a + b*x; returns (a, b). With no spread in x
    the slope is undefined and the mean of y is returned with b = 0."""
    n = len(xs)
    if n == 0:
        return (0.0, 0.0)
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return (my, 0.0)
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return (my - b * mx, b)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {
        s["id"]: (s["end_ms"] - s["start_ms"])
        - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        for s in spans
    }


def fresh_ratio(fresh_counts, link_count):
    """Useful outcomes per candidate: fresh frontier rows per extracted link."""
    return sum(fresh_counts) / link_count if link_count else 0.0


def failed_share(attempted, failed):
    return failed / attempted if attempted else 0.0


def _contains(span, t, slack=2.0):
    return span["start_ms"] - slack <= t <= span["end_ms"] + slack


def _innermost(candidates, t):
    inside = [s for s in candidates if _contains(s, t)]
    return max(inside, key=lambda s: (s["start_ms"], s["id"])) if inside else None


def assign_parents(spans, jobs):
    """Parent every Spark job to a span; returns {job id: span id or -1}.

    A job carries the id of the innermost span open on the submitting main
    thread. If that span was open at the job's start, the job belongs to it,
    or to a generation span of it that covers the start. Otherwise the tag
    is stale: the job came from the engine's results-write thread, which
    kept the tag it inherited when it was created, and the job goes under
    the CrawlEngine.run span that covers its start."""
    by_id = {s["id"]: s for s in spans}
    gens = {}
    for s in spans:
        if s["kind"] == "generation":
            gens.setdefault(s["parent"], []).append(s)
    runs = [s for s in spans if s["name"] == "CrawlEngine.run"]
    out = {}
    for j in jobs:
        t = j["start_ms"]
        tag = by_id.get(j["tag"])
        if tag is not None and _contains(tag, t):
            g = _innermost(gens.get(tag["id"], []), t)
            out[j["job"]] = (g or tag)["id"]
        else:
            r = _innermost(runs, t) or _innermost(spans, t)
            out[j["job"]] = r["id"] if r else -1
    return out


def _ancestors(span_id, by_id):
    while span_id in by_id:
        yield span_id
        span_id = by_id[span_id]["parent"]


def measured_jobs(spans, jobs, parents):
    """Jobs under measured layer calls, grouped by pass span and call name:
    {pass id: {call name: [job, ...]}}."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        chain = [by_id[i] for i in _ancestors(parents.get(j["job"], -1), by_id)]
        call = next((s for s in chain if s["name"] in MEASURED_CALLS), None)
        pas = next((s for s in chain if s["kind"] == "pass"), None)
        if call is not None and pas is not None:
            out.setdefault(pas["id"], {}).setdefault(call["name"], []).append(j)
    return out


def e2e_metrics(raw):
    passes = [p for p in raw["passes"] if p["phase"] == "measured" and p["ok"]]
    setup = raw["setup"]
    reps = [g + p for g, p in zip(setup.get("gen_s", []), setup.get("prepare_s", []))]
    setup_s = (
        (raw["main_epoch_ms"] - raw["launch_epoch_ms"]) / 1000.0
        + setup.get("session_s", 0.0)
        + setup.get("inputs_s", 0.0)
        + median(reps)
        + setup.get("warmup_s", 0.0)
    )
    return {
        "urls_per_s": median([p["items"] / p["wall_s"] for p in passes]),
        "pipeline_s": median([p["wall_s"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "setup_s": setup_s,
    }


def layer_metrics(raw):
    """Per-layer metrics of a traced run. A metric of a layer the workload
    does not load reads 0."""
    m = {name: 0.0 for name in LAYER_UNITS}
    measured = [p for p in raw["passes"] if p["phase"] == "measured"]
    traced = [p for p in measured if p["traced"] and p["ok"]]
    untraced = [p for p in measured if not p["traced"] and p["ok"]]
    spans, jobs = raw.get("spans", []), raw.get("jobs", [])
    parents = assign_parents(spans, jobs)
    per_pass = measured_jobs(spans, jobs, parents)
    pass_jobs = [per_pass.get(p["span"], {}) for p in traced]
    nproc = raw["nproc"]

    attempted = sum(p["ops"] for p in raw["passes"])
    failed = sum(p["ops"] for p in raw["passes"] if not p["ok"])
    m["failed_share"] = failed_share(attempted, failed)
    m["peak_rss_mb"] = raw.get("peak_rss_mb") or 0.0
    if traced and untraced:
        m["trace.overhead_share"] = (
            median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in untraced]) - 1.0)

    def spark_totals(calls):
        js = [j for group in calls.values() for j in group]
        return {
            "jobs": len(js),
            "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "gc_s": sum(j["gc_ms"] for j in js) / 1000.0,
            "spill": sum(j["spill"] for j in js),
            "sw": sum(j["shuffle_write"] for j in js),
            "sr": sum(j["shuffle_read"] for j in js),
            "busy_s": sum(j["run_ms"] for j in js) / 1000.0,
        }

    totals = [spark_totals(c) for c in pass_jobs]
    if totals and traced:
        walls = [p["wall_s"] for p in traced]
        m["spark.jobs"] = median([t["jobs"] for t in totals])
        m["spark.stages"] = median([t["stages"] for t in totals])
        m["spark.tasks"] = median([t["tasks"] for t in totals])
        m["spark.task_gc_s"] = median([t["gc_s"] for t in totals])
        m["spark.spill_bytes"] = median([t["spill"] for t in totals])
        m["spark.shuffle_write_bytes"] = median([t["sw"] for t in totals])
        m["spark.shuffle_read_bytes"] = median([t["sr"] for t in totals])
        m["spark.executor_busy_share"] = median(
            [t["busy_s"] / (w * nproc) for t, w in zip(totals, walls)])

    setup = raw["setup"]
    if "generations" in (traced[0] if traced else {}):
        m["engine.prepare_s"] = median(setup.get("prepare_s", []))
        gens = [g for p in traced for g in p["manifests"]]
        secs = [g["wallMillis"] / 1000.0 for g in gens]
        m["engine.generations"] = median([p["generations"] for p in traced])
        m["engine.gen_s_p50"] = median(secs)
        m["engine.gen_samples"] = len(secs)
        tail = tail_percentile(secs)
        if tail:
            m["engine.gen_s_tail"] = tail[1]
        m["engine.jobs_per_gen"] = median(
            [t["jobs"] / p["generations"] for t, p in zip(totals, traced) if p["generations"]])
        a, b = linear_fit([g["batchCount"] for g in gens], secs)
        m["engine.fixed_s_per_gen"] = a
        m["engine.us_per_url"] = b * 1e6
        m["engine.between_gen_share"] = median(
            [1.0 - sum(g["wallMillis"] for g in p["manifests"]) / 1000.0 / p["wall_s"] for p in traced])
        m["engine.batch_rows_max"] = max(g["batchCount"] for g in gens) if gens else 0

        def per_url(key):
            return median([p["bytes"][key] / p["items"] for p in traced if p["items"]])

        m["engine.results_bytes_per_url"] = per_url("results")
        m["engine.frontier_bytes_per_url"] = per_url("frontier")
        m["frontier.seen_bytes_per_url"] = per_url("seen")
        m["frontier.bloom_ckpt_bytes_per_url"] = per_url("bloom")
        m["frontier.fresh_ratio"] = fresh_ratio(
            [g["freshCount"] for g in gens], sum(p["link_count"] for p in traced))
        m["frontier.seen_keys"] = median([p["seen_keys"] for p in traced])
        m["frontier.compaction_writes"] = median([p["compaction_writes"] for p in traced])
        m["frontier.compaction_rows"] = median([p["compaction_rows"] for p in traced])
        probes = raw.get("probes") or {}
        core = probes.get("core", {})
        for step in ("extract", "parse", "clean", "markdown", "text"):
            m[f"core.{step}_ms_per_page"] = core.get(f"{step}_ms_per_page", 0.0)
        m["core.pages_per_s_4t"] = core.get("pages_per_s_4t", 0.0)
        if m["core.pages_per_s_4t"]:
            m["core.kernel_share"] = median(
                [p["items"] / m["core.pages_per_s_4t"] / p["wall_s"] for p in traced])
        m["frontier.bloom_probe_ns"] = probes.get("frontier", {}).get("bloom_probe_ns", 0.0)

    if traced and "pagerank_s" in traced[0]:
        for op, call in PIPELINE_OPS.items():
            m[f"pipeline.{op}_s"] = median([p[f"{op}_s"] for p in traced])
            m[f"pipeline.{op}_jobs"] = median([len(c.get(call, [])) for c in pass_jobs])
        m["pipeline.bpe_rounds"] = median([p["bpe_rounds"] for p in traced])
    return m
