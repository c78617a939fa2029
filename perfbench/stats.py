"""Small statistics and trace helpers shared by run.py and compare.py."""
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def tail_percentile(xs, min_beyond=10):
    """The highest of TAIL_PERCENTILES that has at least `min_beyond`
    samples above it, as (percentile, value); None when there are too few
    samples for any of them."""
    n = len(xs)
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            k = min(n - 1, max(0, int(round(p / 100.0 * (n - 1)))))
            return p, s[k]
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """{span id: self time} — a span's duration minus the part of it its
    child spans cover. Spans are dicts with id, parent, start_us, end_us."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        out[s["id"]] = (hi - lo) - union_length(clip(kids.get(s["id"], []), lo, hi))
    return out


def module_of(frame):
    """Layer of one call-site frame such as
    `graft.operators.Dedup$.jaccardPairs(Dedup.scala:80)`, or None when the
    frame is not the program's: `graft.io.Readers$` -> `io`,
    `graft.operators.Dedup$` -> `operators.dedup`, `graft.Sessions$` ->
    `sessions`."""
    frame = frame.strip()
    if frame.startswith("at "):
        frame = frame[3:]
    if not frame.startswith("graft."):
        return None
    cls = frame.split("(", 1)[0].rsplit(".", 1)[0]
    parts = cls.split(".")[1:]
    if not parts:
        return None
    obj = parts[-1].split("$", 1)[0]
    pkgs = parts[:-1]
    if not pkgs:
        return obj.lower()
    if pkgs[0] == "operators":
        return "operators." + obj.lower()
    return pkgs[0]


def module_of_site(site):
    """Layer of the innermost program frame of a multi-line call site.

    One exception: when the only program frames are `io` ones, the zone
    read or write was called by the benchmark itself to hand a step's
    output on, and the work it triggers is the step's — None then, so the
    job falls to the active step."""
    mods = [m for m in map(module_of, site.splitlines()) if m]
    if not mods or all(m == "io" for m in mods):
        return None
    return mods[0]
