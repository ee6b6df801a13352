"""The benchmark's arithmetic: percentiles, stage-interval unions, error
accounting, and the reduction of one run record to its metrics."""
import math
import statistics


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(values, q):
    """The Harrell-Davis q-quantile: a weighted mean of all order statistics.

    With a few dozen samples it varies much less from run to run than an
    interpolation between the two nearest ranks, and it estimates the same
    quantile.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of no samples")
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def beyond(values, q):
    """How many samples lie above the q-quantile."""
    cut = hd_quantile(values, q)
    return sum(1 for v in values if v > cut)


def samples_for(q, tail=10):
    """Fewest distinct samples of which at least `tail` lie beyond the q-quantile."""
    n = max(1, int(tail / (1.0 - q)) - tail)
    while beyond(range(n), q) < tail:
        n += 1
    return n


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to [lo, hi]."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def executions(raw):
    """Every query execution of the run: check pass, passes and census."""
    out = list(raw.get("check", []))
    for p in raw.get("passes", []):
        out.extend(p["execs"])
    out.extend(raw.get("census", []))
    return out


def accounting(raw, wrong):
    """(attempted, failed): an execution fails when it raised, or when its
    query's checked output was wrong."""
    execs = executions(raw)
    failed = sum(1 for e in execs if not e["ok"] or e["query"] in wrong)
    return len(execs), failed


def clean_passes(raw, phase, wrong):
    """Passes of `phase` in which every execution succeeded with a correct query."""
    return [p for p in raw.get("passes", []) if p["phase"] == phase
            and all(e["ok"] and e["query"] not in wrong for e in p["execs"])]


def end_to_end(raw, wrong):
    """The record's end-to-end metrics, from the untraced passes only."""
    passes = [p for p in raw["passes"] if p["phase"] == "untraced"]
    clean = clean_passes(raw, "untraced", wrong)
    samples = [e["wall_ms"] for p in passes for e in p["execs"]
               if e["ok"] and e["query"] not in wrong]
    attempted, failed = accounting(raw, wrong)
    m = {"setup_s": (raw["setup_ms"] / 1e3, "s"),
         "error_rate": (error_rate(attempted, failed), "share")}
    if clean:
        m["pass_s"] = (statistics.median(p["wall_ms"] for p in clean) / 1e3, "s")
        m["cpu_s_per_pass"] = (statistics.median(p["cpu_ms"] for p in clean) / 1e3, "s")
    if passes:
        m["heap_peak_mb"] = (statistics.median(p["old_gen_mb"] for p in passes), "MB")
    if samples:
        m["query_p50_ms"] = (hd_quantile(samples, 0.5), "ms")
        m["query_p90_ms"] = (hd_quantile(samples, 0.9), "ms")
    extra = {"samples": len(samples), "beyond_p90": beyond(samples, 0.9) if samples else 0,
             "samples_for_10_beyond_p90": samples_for(0.9), "passes": len(passes),
             "clean_passes": len(clean), "attempted": attempted, "failed": failed}
    return m, extra


class Spans:
    """The traced spans of one run, indexed by query execution."""

    def __init__(self, raw):
        spans = raw.get("spans", {})
        self.k = raw["k"]
        self.stages, self.jobs, self.plans = {}, {}, {}
        for s in spans.get("stages", []):
            self.stages.setdefault(s["exec"], []).append(s)
        for j in spans.get("jobs", []):
            self.jobs[j["exec"]] = self.jobs.get(j["exec"], 0) + 1
        for p in spans.get("plans", []):
            self.plans.setdefault(p["exec"], []).append(p)

    def stage_ms(self, e):
        iv = [(s["submit_ms"], s["end_ms"]) for s in self.stages.get(e["id"], [])
              if s["submit_ms"] >= 0 and s["end_ms"] >= 0]
        return union_ms(iv, e["start_ms"], e["end_ms"])

    def driver_gap_ms(self, e):
        return max(0.0, e["wall_ms"] - self.stage_ms(e))

    def plan_ms(self, e, phase):
        return sum(p[phase] for p in self.plans.get(e["id"], []))

    def line(self, e):
        """One JSON line per traced execution, with its two alerts."""
        st = self.stages.get(e["id"], [])
        gap = self.driver_gap_ms(e)
        alerts = []
        slow = [s["stage"] for s in st if s["tasks"] == 1 and s["end_ms"] - s["submit_ms"] > 200]
        if slow:
            alerts.append({"alert": "one_task_stage_over_200ms", "stages": slow})
        if e["wall_ms"] > 0 and gap / e["wall_ms"] > 0.5:
            alerts.append({"alert": "driver_share_over_50pct", "driver_share": gap / e["wall_ms"]})
        return {
            "query": e["query"], "phase": e["phase"], "pass": e["pass"], "ok": e["ok"],
            "wall_ms": e["wall_ms"], "build_ms": e["build_ms"],
            "analysis_ms": self.plan_ms(e, "analysis_ms"),
            "optimization_ms": self.plan_ms(e, "optimization_ms"),
            "planning_ms": self.plan_ms(e, "planning_ms"),
            "stage_ms": self.stage_ms(e), "driver_gap_ms": gap,
            "jobs": self.jobs.get(e["id"], 0), "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "tasks_per_stage": [s["tasks"] for s in sorted(st, key=lambda s: s["stage"])],
            "alerts": alerts,
        }

    def pass_totals(self, p):
        """Per-layer totals over one traced pass."""
        execs = p["execs"]
        st = [s for e in execs for s in self.stages.get(e["id"], [])]
        run = sum(sum(s["task_run_ms"]) for s in st)
        skews = [max(s["task_run_ms"]) / statistics.median(s["task_run_ms"])
                 for s in st if len(s["task_run_ms"]) >= 2 and sum(s["task_run_ms"]) >= 100
                 and statistics.median(s["task_run_ms"]) > 0]
        return {
            "plan.build_ms": sum(e["build_ms"] for e in execs),
            "plan.analysis_ms": sum(self.plan_ms(e, "analysis_ms") for e in execs),
            "plan.optimization_ms": sum(self.plan_ms(e, "optimization_ms") for e in execs),
            "plan.planning_ms": sum(self.plan_ms(e, "planning_ms") for e in execs),
            "sched.jobs": sum(self.jobs.get(e["id"], 0) for e in execs),
            "sched.stages": len(st),
            "sched.tasks": sum(s["tasks"] for s in st),
            "sched.one_task_stages": sum(1 for s in st if s["tasks"] == 1),
            "sched.driver_gap_ms": sum(self.driver_gap_ms(e) for e in execs),
            "sched.task_wait_ms": sum(s["wait_ms"] for s in st),
            "exec.stage_ms": sum(self.stage_ms(e) for e in execs),
            "exec.task_run_ms": run,
            "exec.task_cpu_ms": sum(s["cpu_ns"] for s in st) / 1e6,
            "exec.gc_ms": sum(s["gc_ms"] for s in st),
            "exec.core_busy_share": run / (p["wall_ms"] * self.k),
            "exec.task_skew": max(skews, default=1.0),
            "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in st),
            "shuffle.spill_bytes": sum(s["spill_bytes"] for s in st),
            "scan.rows": sum(s["input_rows"] for s in st),
            "scan.bytes": sum(s["input_bytes"] for s in st),
        }


def tracing_overhead(traced, untraced):
    """Median over pairs of traced ÷ untraced pass time − 1. The two passes of
    a pair share a pass number and an order; pairs without both are skipped."""
    plain = {p["pass"]: p["wall_ms"] for p in untraced}
    shares = [p["wall_ms"] / plain[p["pass"]] - 1.0 for p in traced if p["pass"] in plain]
    return statistics.median(shares) if shares else None


def per_layer(raw, wrong):
    """Per-layer metrics of a traced run, and its per-execution lines."""
    sp = Spans(raw)
    traced = clean_passes(raw, "traced", wrong)
    untraced = clean_passes(raw, "untraced", wrong)
    m = {}
    if traced:
        totals = [sp.pass_totals(p) for p in traced]
        for name in totals[0]:
            m[name] = statistics.median(t[name] for t in totals)
    per_query = {}
    census = [e for e in raw.get("census", []) if e["phase"] == "census"]
    for e in [e for p in traced for e in p["execs"]] + census:
        if e["ok"] and e["query"] not in wrong:
            per_query.setdefault(e["query"], []).append(e)
    for q, es in per_query.items():
        m[f"q.{q}.ms"] = statistics.median(e["wall_ms"] for e in es)
        m[f"q.{q}.driver_gap_ms"] = statistics.median(sp.driver_gap_ms(e) for e in es)
    for k, v in raw.get("layers", {}).items():
        if not k.startswith("check.") and k not in ("kde.points", "kde.cells"):
            m[k] = v
    overhead = tracing_overhead(traced, untraced)
    if overhead is not None:
        m["trace.overhead_share"] = overhead
    lines = [sp.line(e) for p in raw.get("passes", []) if p["phase"] == "traced"
             for e in p["execs"]] + [sp.line(e) for e in census]
    return m, lines
