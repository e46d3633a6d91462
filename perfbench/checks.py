"""Output checks. Each returns counts instead of raising, so that one run
reports every failure it sees."""
import ast
import calendar
import json
import math
import subprocess
import sys
import time


# ---------------------------------------------------------------- trips

def parse_trip_line(line):
    """Tolerant parse mirroring `TripModel.parseRaw`: None when the line is
    malformed or has no trip number, else (trip, tsec, type, lat, lon, speed)."""
    try:
        msg = json.loads(line)
    except ValueError:
        return None
    body = msg.get("body") if isinstance(msg, dict) else None
    if not isinstance(body, dict):
        return None
    trip = body.get("tripNumber")
    if not isinstance(trip, int) or isinstance(trip, bool):
        return None
    pid = body.get("pidData") or {}
    gps = pid.get("GpsReading") or {}
    ts = body.get("timestamp")
    tsec = None
    if isinstance(ts, str):
        tsec = calendar.timegm(time.strptime(ts, "%Y-%m-%dT%H:%M:%SZ"))
    return (trip, tsec, body.get("type"), gps.get("latitude"), gps.get("longitude"),
            pid.get("VehicleSpeed"))


def haversine_km(lat1, lon1, lat2, lon2):
    phi1, phi2 = math.radians(lat1), math.radians(lat2)
    dphi, dlam = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    h = math.pow(math.sin(dphi / 2), 2) + \
        math.cos(phi1) * math.cos(phi2) * math.pow(math.sin(dlam / 2), 2)
    return 2.0 * 6371.0 * math.asin(math.sqrt(h))


def fold(state, readings, low_speed=5.0):
    """The incremental trip fold over readings already in fold order.
    state: [n, start, last, lat, lon, speed, stopped, km] or None."""
    for tsec, lat, lon, speed in readings:
        if state is None:
            state = [0, tsec, tsec, lat, lon, speed, 0, 0.0]
        n, start, last, plat, plon, pspeed, stopped, km = state
        if n > 0 and speed < low_speed and pspeed < low_speed:
            stopped += tsec - last
        if n > 0:
            km += haversine_km(plat, plon, lat, lon)
        state = [n + 1, min(start, tsec), max(last, tsec), lat, lon, speed, stopped, km]
    return state


def trip_batches(lines, batch_lines):
    """trip -> {batch index: [(tsec, lat, lon, speed), ...]} of the GPS
    readings of `TripData` lines, in arrival order within a batch."""
    batches = {}  # trip -> list of per-batch reading lists
    for i, line in enumerate(lines):
        r = parse_trip_line(line)
        if r is None or r[2] != "TripData" or r[3] is None or r[4] is None:
            continue
        trip, tsec, _, lat, lon, speed = r
        per = batches.setdefault(trip, {})
        per.setdefault(i // batch_lines, []).append((tsec, lat, lon, speed or 0.0))
    return batches


def _row(state):
    return (state[0], state[1], state[2], state[6], state[7])


def batched_fold(per, first=None):
    """The engine's fold of one trip: readings sorted within each
    micro-batch, batches folded in order, from batch `first` on."""
    state = None
    for b in sorted(per):
        if first is None or b >= first:
            state = fold(state, sorted(per[b], key=lambda r: r[0]))
    return _row(state)


def trip_rows(lines, batch_lines):
    """Expected sink rows two ways. `sorted_ref`: the plain single-threaded
    reference, every trip's readings sorted by timestamp. `batched_ref`: the
    engine's documented semantics, which sorts only within a micro-batch and
    folds batch after batch. Rows are (n, start, end, stopped, km)."""
    sorted_ref, batched_ref = {}, {}
    for trip, per in trip_batches(lines, batch_lines).items():
        everything = sorted((r for b in per.values() for r in b), key=lambda r: r[0])
        sorted_ref[trip] = _row(fold(None, everything))
        batched_ref[trip] = batched_fold(per)
    return sorted_ref, batched_ref


def same_trip(a, b):
    return a[:4] == b[:4] and math.isclose(a[4], b[4], rel_tol=1e-9, abs_tol=1e-9)


def check_trips(lines, batch_lines, sink, malformed_expected, malformed_dropped):
    """`sink` maps trip -> (n, start, end, stopped, km) as read from the
    database. Failures: trips missing from the sink, unexpected trips, rows
    that differ from the engine-semantics reference other than by a
    retention split (counted apart as `split`), and a parser drop count
    that differs from the generator's malformed count."""
    t0 = time.perf_counter()
    sorted_ref, batched_ref = trip_rows(lines, batch_lines)
    ref_s = time.perf_counter() - t0
    missing = sum(1 for t in batched_ref if t not in sink)
    extra = sum(1 for t in sink if t not in batched_ref)
    differ = [t for t, r in batched_ref.items() if t in sink and not same_trip(sink[t], r)]
    # The retention rule arms a trip's deadline 4 s of processing time
    # after its first batch and re-arms it only from a batch with its data
    # at or near the deadline. A no-data batch that runs past the deadline
    # while the trip still has batches to come (a slow or cold stretch)
    # emits it early; its later batches start a new session whose row
    # overwrites the first, and equals the fold from the split on.
    per_trip = trip_batches(lines, batch_lines)
    split = [t for t in differ
             if any(same_trip(sink[t], batched_fold(per_trip[t], b))
                    for b in sorted(per_trip[t])[1:])]
    wrong = len(differ) - len(split)
    baseline = sum(1 for t, r in sorted_ref.items() if t not in sink or not same_trip(sink[t], r))
    disorder = sum(1 for t in sorted_ref if not same_trip(sorted_ref[t], batched_ref[t]))
    return {
        "trips": len(sorted_ref),
        "missing": missing, "extra": extra, "wrong": wrong, "split": len(split),
        "malformed_mismatch": int(malformed_expected != malformed_dropped),
        "failed": missing + extra + wrong + int(malformed_expected != malformed_dropped),
        "baseline_mismatch": baseline,
        "batch_disorder_trips": disorder,
        "reference_s": ref_s,
    }


# -------------------------------------------------------------- queries

def check_queries(tables_dir, query_dir, compare_py):
    """Compares each query result under `query_dir` with its oracle SQL run
    by DuckDB over the same tables, by running the repository's oracle
    compare, `tools/compare.py <tables> <query_dir>`. Returns {query: reason}
    for failures, taken from its final `fails: [...]` line and the report
    line that names each failing query."""
    r = subprocess.run([sys.executable, compare_py, tables_dir, query_dir],
                       capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    summary = [line for line in lines if "fails: [" in line]
    if not summary:
        return {"*": f"compare exited with {r.returncode}: {(r.stdout + r.stderr)[-500:]}"}
    failed = ast.literal_eval(summary[-1].split("fails: ", 1)[1])
    if r.returncode != 0 and not failed:
        return {"*": f"compare exited with {r.returncode}"}
    reasons = {}
    for name in failed:
        reasons[name] = next((line.strip() for line in lines
                              if f" {name}:" in line or line.endswith(f" {name}")), "failed")
    return reasons


# ---------------------------------------------------------------- dedup

def shingles(text, k=3):
    toks = text.split(" ")
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)  # the root is the min id


def check_dedup(texts, families, threshold, pairs, groups, clusters, keep):
    """texts: id -> text of the documents the run saw; families: id lists
    of generated near-duplicate families; pairs: (id_a, id_b, jaccard) between
    clone-group representatives; groups: (rep, member); clusters:
    (id, cluster_id); keep: size of the keep set.

    Counts expected pairs (within-family pairs at or above the threshold)
    that the output misses, output pairs whose exact Jaccard is below the
    threshold or differs from the reported one, and cluster labels that
    differ from a union-find over the output pairs and groups."""
    grams = {}

    def g(i):
        if i not in grams:
            grams[i] = shingles(texts[i])
        return grams[i]

    rep = {m: r for r, m in groups}
    reported = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    expected = missed = 0
    for fam in families:
        fam = [i for i in fam if i in texts]
        for x in range(len(fam)):
            for y in range(x + 1, len(fam)):
                a, b = fam[x], fam[y]
                if jaccard(g(a), g(b)) < threshold:
                    continue
                expected += 1
                ra, rb = rep.get(a), rep.get(b)
                if ra is None or rb is None:
                    missed += 1
                elif ra != rb and (min(ra, rb), max(ra, rb)) not in reported:
                    missed += 1
    below = sum(1 for a, b, j in pairs
                if jaccard(g(a), g(b)) < threshold or abs(jaccard(g(a), g(b)) - j) > 1e-9)
    uf = UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    size = {}
    for r, m in groups:
        uf.union(r, m)
        size[r] = size.get(r, 0) + 1
    in_pair = {x for a, b, _ in pairs for x in (a, b)}
    members = {m for r, m in groups if r in in_pair or size[r] > 1}
    got = dict(clusters)
    wrong = sum(1 for m in members if got.get(m) != uf.find(m))
    wrong += sum(1 for i in got if i not in members)
    comps = {}
    for m in members:
        comps.setdefault(uf.find(m), 0)
        comps[uf.find(m)] += 1
    keep_expected = len(texts) - sum(n - 1 for n in comps.values())
    return {
        "expected_pairs": expected, "missed": missed, "below_threshold": below,
        "wrong_labels": wrong, "keep_mismatch": int(keep != keep_expected),
        "failed": missed + below + wrong + int(keep != keep_expected),
    }


# ---------------------------------------------------------------- trace

def read_spans(path):
    """Spans as written by the traced run: (id, parent, name, start_ns, end_ns)."""
    with open(path) as fh:
        return [(int(i), int(p), n, int(a), int(b))
                for i, p, n, a, b in (line.rstrip("\n").split("\t") for line in fh)]


def span_self_times(spans, root_name="run", max_uncovered=0.02, tol_s=0.001):
    """Layer self times under the root span, and a check of the spans.

    A span's self time is its duration minus its children's; the layer is
    the name's prefix before the first dot, and the root's own self time is
    the `harness` layer: the time no traced call covers. The check fails
    when a child lies outside its parent's interval or children overlap
    (a self time below zero), or when the harness covers more than
    `max_uncovered` of the wall time, which means a layer call went
    unrecorded. `tol_s` absorbs clock granularity."""
    root = next(s for s in spans if s[2] == root_name and s[1] == -1)
    by_id = {s[0]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    tree, todo = [], [root]
    while todo:
        s = todo.pop()
        tree.append(s)
        todo.extend(kids.get(s[0], []))
    dur = {s[0]: (s[4] - s[3]) / 1e9 for s in tree}
    layers, min_self, outside = {}, 0.0, 0
    for s in tree:
        own = dur[s[0]] - sum(dur[k[0]] for k in kids.get(s[0], []))
        layer = "harness" if s is root else s[2].split(".", 1)[0]
        layers[layer] = layers.get(layer, 0.0) + own
        min_self = min(min_self, own)
        if s is not root:
            p = by_id[s[1]]
            if s[3] < p[3] - tol_s * 1e9 or s[4] > p[4] + tol_s * 1e9:
                outside += 1
    wall = dur[root[0]]
    uncovered = layers["harness"] / wall
    ok = outside == 0 and min_self >= -tol_s and uncovered <= max_uncovered
    return {
        "layers": layers, "wall_s": wall,
        "self_sum_s": sum(v for k, v in layers.items() if k != "harness"),
        "uncovered_share": uncovered, "spans_outside_parent": outside,
        "min_self_s": min_self, "ok": ok,
    }
