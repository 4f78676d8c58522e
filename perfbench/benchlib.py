"""Pure functions behind the benchmark: query orders, percentiles, span
self time, the per-layer roll-up and the bound comparison. Kept free of
I/O so the tests in tests/ can pin each rule."""
import hashlib
import json
import math
import statistics


def permutation(names, seed, label):
    """The order of one pass: a seeded permutation that depends only on
    the seed, the pass label and the query names, not on the Python
    version's random module."""
    def key(name):
        return hashlib.sha256(f"{seed}:{label}:{name}".encode()).hexdigest()
    return sorted(names, key=key)


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile of `values`, or None when fewer than
    `beyond` samples lie above it (the p90 of 99 samples has only 9)."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        return None
    return v[rank - 1]


def _plain(v):
    """A cell as plain JSON data, equal exactly when tools/check.py's
    cell_eq calls two cells equal (NaN equals NaN, -0.0 equals 0.0,
    arrays compare as lists)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return repr(v)


def result_hash(df):
    """sha256 of a canonicalized result frame (tools/check.py `canon`:
    sorted columns, sorted rows): column names plus every cell."""
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(json.dumps([_plain(c) for c in row]).encode())
    return h.hexdigest()


def median(values):
    return statistics.median(values)


def spread(values):
    """Inter-quartile distance as a share of the median, the way the
    acceptance check takes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def trend(walls):
    """Median of the second half of `walls` over the median of the first
    half, minus 1 (the middle one of an odd count is left out): below 0
    while the passes are still getting faster. None below two walls."""
    h = len(walls) // 2
    if h == 0:
        return None
    return statistics.median(walls[-h:]) / statistics.median(walls[:h]) - 1


def within_bound(parent, child, bound, better):
    """True when the child's median is not worse than the parent's median
    by more than `bound` (a share of the parent's median)."""
    p, c = statistics.median(parent), statistics.median(child)
    if better == "lower":
        return c <= p * (1 + bound)
    return c >= p * (1 - bound)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ([start, end] pairs), clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover (overlapping children count once)."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def build_tree(records):
    """Assemble the traced run's span tree from the harness record.

    The harness writes run, pass, query, build and action spans; this
    adds, under each query, a `plan` span (the Catalyst phases of the
    final action's QueryExecution) and an `exec` span (the rest of the
    action), and hangs each job under the build or exec span of the
    query whose job group it carries, and each stage under its job.
    Returns the list of spans, each with id, parent, kind, name, start
    and end (epoch ms)."""
    spans = [dict(r) for r in records if r["type"] == "span"]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    next_id = max((s["id"] for s in spans), default=0) + 1

    def new(kind, name, parent, start, end, **extra):
        nonlocal next_id
        s = dict(type="span", id=next_id, parent=parent, kind=kind,
                 name=name, start=start, end=end, **extra)
        next_id += 1
        spans.append(s)
        return s

    queries = {s["id"]: s for s in by_kind.get("query", [])}
    passes = {s["id"]: s for s in by_kind.get("pass", [])}
    actions = {s["parent"]: s for s in by_kind.get("action", [])}
    builds = {s["parent"]: s for s in by_kind.get("build", [])}
    group_of = {}
    for qid, q in queries.items():
        group_of[f"{passes[q['parent']]['name']}/{q['name']}"] = qid

    # Catalyst phases of the final action: the QueryExecution whose
    # phases start inside the action span.
    qes = [r for r in records if r["type"] == "qe" and r["phases"]]
    exec_of = {}
    for qid, a in actions.items():
        phases = [p for r in qes for p in r["phases"].values()
                  if a["start"] <= p[0] <= a["end"]]
        plan_end = a["start"]
        if phases:
            p0 = min(p[0] for p in phases)
            plan_end = max(p[1] for p in phases)
            new("plan", a["name"], qid, p0, plan_end)
        exec_of[qid] = new("exec", a["name"], qid, plan_end, a["end"])
    spans = [s for s in spans if s["kind"] != "action"]

    # Jobs that Spark starts from its own threads (broadcasts, subqueries)
    # carry a JDK call site; name them after the SQL execution they serve.
    sql_sites = {r["sql_exec"]: r["callsite"] for r in records if r["type"] == "sql_exec"}

    def job_name(js):
        site = js.get("callsite") or ""
        if "withThreadLocalCaptured" in site and js.get("sql_exec") in sql_sites:
            return f"async job of {sql_sites[js['sql_exec']]}"
        return site

    starts = {r["job"]: r for r in records if r["type"] == "job_start"}
    ends = {r["job"]: r for r in records if r["type"] == "job_end"}
    job_span = {}
    for jid, js in starts.items():
        end = ends.get(jid, {}).get("end", js["start"])
        qid = group_of.get(js.get("group"))
        if qid is None:
            qid = next((i for i, q in queries.items()
                        if q["start"] <= js["start"] <= q["end"]), None)
        if qid is None:
            continue
        parent = exec_of.get(qid)
        b = builds.get(qid)
        if b is not None and js["start"] <= b["end"]:
            parent = b
        if parent is None:
            parent = queries[qid]
        job_span[jid] = new("job", job_name(js), parent["id"],
                            js["start"], end, job=jid)
    for st in (r for r in records if r["type"] == "stage"):
        j = job_span.get(st["job"])
        if j is None or st["start"] is None or st["end"] is None:
            continue
        new("stage", st["name"], j["id"], st["start"], st["end"],
            stage=st["stage"])
    return spans


def children_index(spans):
    idx = {}
    for s in spans:
        idx.setdefault(s["parent"], []).append(s)
    return idx


LAYER_OF_KIND = {"build": "build", "plan": "catalyst", "exec": "driver_idle",
                 "query": "query_other"}
LAYERS = ["build", "catalyst", "jobs", "driver_idle", "query_other"]


def layer_split(span, kids):
    """Partition of one span's self time and its jobs' time by layer: a
    build or exec span contributes its self time plus the union of its
    job spans ("jobs"; concurrent jobs count once); stages add detail but
    no time of their own. Summed over a query's subtree this equals the
    query's wall."""
    out = {}
    layer = LAYER_OF_KIND.get(span["kind"])
    if layer is None:
        return out
    children = kids.get(span["id"], [])
    out[layer] = self_time(span, children)
    jobs = [(c["start"], c["end"]) for c in children if c["kind"] == "job"]
    if jobs:
        out["jobs"] = union_length(jobs, span["start"], span["end"])
    return out


def layer_self_times(spans):
    """Summed time per layer over every query subtree (see layer_split)."""
    kids = children_index(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        for layer, ms in layer_split(s, kids).items():
            out[layer] += ms
    return out
