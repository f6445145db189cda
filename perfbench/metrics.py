"""Pure functions that turn one harness record into the benchmark's metrics."""
import math
import statistics

BEYOND = 10  # samples a reported percentile needs above it


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share `q` of all samples at or below it."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def supported_percentile(n):
    """The highest of p90/p75/p50 with at least BEYOND samples above it
    among `n`, or None when even the median lacks them."""
    for q in (0.9, 0.75, 0.5):
        if n - math.ceil(q * n) >= BEYOND:
            return q
    return None


def self_times(spans):
    """Span id -> duration minus the part of it covered by its children.
    Children may overlap each other; covered time counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_s"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, end, s["start_s"]), min(b, s["end_s"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def median(values):
    return statistics.median(values)


def _steady(record, traced=None):
    return [p for p in record["passes"] if not p["cold"] and (traced is None or p["traced"] == traced)]


def per_op(record):
    """Operation -> its execution times, cold pass first."""
    out = {}
    for p in record["passes"]:
        for e in p["execs"]:
            out.setdefault(e["op"], []).append(e["wall_s"])
    return out


def end_to_end(record):
    """The end-to-end metrics of one untraced run."""
    cold = [p for p in record["passes"] if p["cold"]][0]
    steady = _steady(record)
    lat = [e["wall_s"] for p in steady for e in p["execs"]]
    fastest = {}
    for p in steady:
        for e in p["execs"]:
            fastest[e["op"]] = min(fastest.get(e["op"], math.inf), e["wall_s"])
    return {
        "setup_s": (record["setup_s"], "s"),
        "cold_batch_s": (cold["wall_s"], "s"),
        "warm_batch_s": (median([p["wall_s"] for p in steady]), "s"),
        "warm_min_s": (sum(fastest.values()), "s"),
        "query_p50_s": (percentile(lat, 0.5), "s"),
        "query_p90_s": (percentile(lat, 0.9), "s"),
        "heap_live_peak_mb": (max(p["heap_live_mb"] for p in record["passes"]), "MB"),
    }


def run_info(record, failed, attempted):
    """Printed with every run, not part of the result line: failures, the
    latency sample and how well construct + action account for wall time."""
    steady = _steady(record)
    n = sum(len(p["execs"]) for p in steady)
    q = supported_percentile(n)
    execs = [e for p in steady for e in p["execs"]]
    wall = sum(e["wall_s"] for e in execs)
    parts = sum(e["construct_s"] + e["action_s"] for e in execs)
    return {
        "failed_frac": (failed / attempted, "ratio"),
        "steady_passes": (len(steady), "count"),
        "latency_samples": (n, "count"),
        "supported_percentile": (100 * (q or 0), "%"),
        "exec_unaccounted_share": ((wall - parts) / wall, "ratio"),
    }


def _pass_counters(record, p):
    spans = [s for s in record["spans"] if s["pass"] == p["index"]]
    total = {}
    for s in spans:
        for k, v in s["counters"].items():
            total[k] = total.get(k, 0) + v
    return total


def per_layer(record, truth):
    """Per-layer metrics of one traced run: the median over its traced
    steady passes of each per-pass figure; one-time figures come from the
    cold pass."""
    cpus = record["cpus"]
    traced = _steady(record, traced=True)
    untraced = _steady(record, traced=False)
    self_by_id = self_times(record["spans"])
    rows = []
    for p in traced:
        c = _pass_counters(record, p)
        execs = p["execs"]
        construct = sum(e["construct_s"] for e in execs)
        action = sum(e["action_s"] for e in execs)
        step = {e["op"]: e["wall_s"] for e in execs}
        staged = sum(s["counters"].get("output_records", 0) for s in record["spans"]
                     if s["pass"] == p["index"] and s["op"] == "soccer.write")
        files = [e["check"] for e in execs if e["op"] == "soccer.write"]
        exec_spans = [s for s in record["spans"] if s["pass"] == p["index"] and s["name"] == "exec"]
        g = lambda k: c.get(k, 0)
        rows.append({
            "entry.construct_s": construct,
            "entry.construct_share": construct / (construct + action),
            "entry.action_s": action,
            "catalyst.analysis_s": g("analysis_ms") / 1e3,
            "catalyst.optimizer_s": g("optimizer_ms") / 1e3,
            "catalyst.planning_s": g("planning_ms") / 1e3,
            "scheduler.jobs": g("jobs"),
            "scheduler.stages": g("stages"),
            "scheduler.tasks": g("tasks"),
            "scheduler.jobs_per_query": g("jobs") / len(execs),
            "scheduler.idle_core_s": cpus * p["wall_s"] - g("run_ms") / 1e3,
            "executor.run_s": g("run_ms") / 1e3,
            "executor.cpu_s": g("cpu_ns") / 1e9,
            "executor.gc_s": g("gc_ms") / 1e3,
            "executor.busy_cores": g("run_ms") / 1e3 / p["wall_s"],
            "shuffle.write_mb": g("shuffle_write_bytes") / 2**20,
            "shuffle.read_mb": g("shuffle_read_bytes") / 2**20,
            "shuffle.fetch_wait_s": g("fetch_wait_ms") / 1e3,
            "spill.disk_mb": g("spill_disk_bytes") / 2**20,
            "scan.input_mb": g("input_bytes") / 2**20,
            "scan.input_rows": g("input_records"),
            "write.output_mb": g("output_bytes") / 2**20,
            "write.files": int(files[0].rsplit("=", 1)[1]) if files else 0,
            "soccer.run_s": step.get("soccer.run", 0.0),
            "soccer.write_s": step.get("soccer.write", 0.0),
            "soccer.standings_s": step.get("soccer.standings", 0.0),
            "soccer.dedup_s": step.get("soccer.dedup", 0.0),
            "soccer.kept_ratio": staged / truth["match_rows_parsed"] if truth else 0.0,
            "blocks.peak_mb": p["block_peak_mb"],
            "jvm.gc_pause_s": p["gc_pause_s"],
            "trace.exec_self_s": sum(self_by_id[s["id"]] for s in exec_spans),
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    cold = [p for p in record["passes"] if p["cold"]][0]
    first = [e for e in cold["execs"] if e["artifact_builds"] > 0]
    warm = {}
    for p in _steady(record):
        for e in p["execs"]:
            warm.setdefault(e["op"], []).append(e["wall_s"])
    out["scratch.artifact_builds"] = sum(e["artifact_builds"] for e in cold["execs"])
    out["scratch.first_use_s"] = sum(e["wall_s"] - median(warm[e["op"]]) for e in first)
    out["host.probe_scan_s"] = record["probes"]["scan_s"]
    out["host.probe_compute_s"] = record["probes"]["compute_s"]
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - median([p["wall_s"] for p in untraced]))
    units = {"_s": "s", "_mb": "MB", "_share": "ratio", "_ratio": "ratio", "_cores": "cores"}
    return {k: (v, next((u for suf, u in units.items() if k.endswith(suf)), "count"))
            for k, v in out.items()}
