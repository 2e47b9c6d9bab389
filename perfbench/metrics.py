"""Metric arithmetic of the benchmark, kept apart from the run logic so the
rules can be unit-tested: percentile selection, span nesting and self time,
the invalid-level rule, and run-to-run spread.
"""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10
# Listener and commit stamps have millisecond resolution; a derived span that
# starts this close before a harness span still belongs inside it.
TOLERANCE_MS = 1.0


def percentile(values, q):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`, or None when
    fewer than MIN_BEYOND samples lie above the selected rank."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


class TooFewSamples(ValueError):
    pass


def required_percentile(values, q, name):
    """`percentile`, for a metric that must be reported: too few samples
    raise TooFewSamples rather than read as some number."""
    p = percentile(values, q)
    if p is None:
        raise TooFewSamples(f"{name}: {len(values)} samples leave fewer than "
                            f"{MIN_BEYOND} beyond the {q:.0%} rank")
    return p


def geomean(values):
    xs = [v for v in values if v > 0]
    if not xs:
        return None
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def level_status(requested, granted):
    """A core level above what the host grants is invalid: it is not run,
    and no number is reported for it."""
    return "ok" if requested <= granted else "invalid"


def spread(values):
    """Distance between the first and third quartiles, as a share of the
    median (the steadiness measure of a metric across runs)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "children")

    def __init__(self, row):
        self.id, self.parent, self.layer, self.name, self.start, self.end = row
        self.children = []

    @property
    def dur(self):
        return self.end - self.start


def nest(rows):
    """Build the span tree. Rows are `[id, parent, layer, name, start, end]`.
    Harness spans carry their parent (0 = top level). Derived spans (parent
    -1) go under the innermost harness span that contains their start, and
    then nest among themselves by containment. An empty layer is inherited
    from the parent. Returns the top-level spans."""
    spans = [Span(r) for r in rows]
    by_id = {s.id: s for s in spans if s.parent >= 0}
    top = []
    groups = {}
    for s in spans:
        if s.parent >= 0:
            continue
        host = None
        for h in by_id.values():
            if h.start - TOLERANCE_MS <= s.start < h.end and (host is None or h.start >= host.start):
                host = h
        groups.setdefault(host.id if host else 0, []).append(s)
    for s in by_id.values():
        (by_id[s.parent].children if s.parent in by_id else top).append(s)
    for host_id, derived in groups.items():
        stack = []
        for s in sorted(derived, key=lambda x: (x.start, -x.dur)):
            while stack and not (stack[-1].start <= s.start < stack[-1].end):
                stack.pop()
            if stack:
                stack[-1].children.append(s)
            elif host_id:
                by_id[host_id].children.append(s)
            else:
                top.append(s)
            stack.append(s)

    def inherit(s, layer):
        if not s.layer:
            s.layer = layer
        for c in s.children:
            inherit(c, s.layer)

    for s in top:
        inherit(s, "harness")
    return top


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(rows, windows):
    """Self time per layer inside the measured `windows` ([start, end]
    intervals whose total is the workload's wall): each span's duration,
    clipped to its parent, minus the part of it its children cover. Wall
    time outside every top-level span is the harness's own. The layers'
    self times therefore add up to the wall. Returns {layer: ms}."""
    out = {}

    def walk(s, lo, hi):
        a, b = max(s.start, lo), min(s.end, hi)
        if b <= a:
            return 0.0
        own = (b - a) - covered([(c.start, c.end) for c in s.children], a, b)
        out[s.layer] = out.get(s.layer, 0.0) + own
        for c in s.children:
            walk(c, a, b)
        return b - a

    inside = 0.0
    for s in nest(rows):
        for lo, hi in windows:
            if lo <= s.start < hi:
                inside += walk(s, lo, hi)
    wall_ms = sum(b - a for a, b in windows)
    out["harness"] = out.get("harness", 0.0) + max(0.0, wall_ms - inside)
    return out
