"""Small statistics and validation helpers shared by the benchmark."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class TooFewSamples(ValueError):
    pass


def percentile(values, q, min_beyond=10):
    """Nearest-rank ``q``-th percentile of ``values`` with its sample count.

    Refuses (raises TooFewSamples) when fewer than ``min_beyond`` samples lie
    above the percentile's rank, since such a tail estimate rests on a
    handful of points.  The median only needs one sample.
    Returns ``(value, n)``.
    """
    n = len(values)
    if n == 0:
        raise TooFewSamples(f"p{q}: no samples")
    rank = max(1, math.ceil(q / 100.0 * n))
    if q > 50 and n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q} of {n} samples leaves {n - rank} beyond it, need {min_beyond}")
    return sorted(values)[rank - 1], n


def highest_supported(values, candidates=(99.9, 99, 95, 90), min_beyond=10):
    """The highest percentile in ``candidates`` the sample supports, as
    ``(q, value, n)``; ``None`` when even the lowest is refused."""
    for q in candidates:
        try:
            v, n = percentile(values, q, min_beyond)
            return q, v, n
        except TooFewSamples:
            continue
    return None


def open_loop_latencies(due_ns, sent_ns, received_ns):
    """Open-loop accounting: each latency counts from the time the request
    was DUE, not from when the generator managed to send it, so a stalled
    generator (or a stalled system it waits on) still shows in the latency
    of every later request.  Returns ``(latencies_ns, late_ns)`` where
    ``late_ns`` is how far behind schedule each send was."""
    lat = [r - d for d, r in zip(due_ns, received_ns)]
    late = [max(0, s - d) for d, s in zip(due_ns, sent_ns)]
    return lat, late


def subwindow_percentiles(times, values, start, end, parts, qs):
    """Each percentile in ``qs`` of ``values``, taken separately in each of
    ``parts`` equal sub-windows of [start, end) (by ``times``), then the
    median over the sub-windows: a stall in one sub-window does not set the
    figure.  Raises TooFewSamples when a sub-window cannot support one."""
    width = (end - start) / parts
    bins = [[] for _ in range(parts)]
    for t, v in zip(times, values):
        if start <= t < end:
            bins[min(parts - 1, int((t - start) // width))].append(v)
    return tuple(median([percentile(b, q)[0] for b in bins]) for q in qs)


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def check_metric(name, unit):
    """Raise ValueError unless the metric name and unit are well formed."""
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")


def validate_spec(spec):
    """Check a BENCHMARK.json dict against the benchmark's own contract."""
    seen = set()
    for section in ("workloads", "end_to_end", "per_layer"):
        for m in spec[section]:
            if not NAME_RE.match(m["name"]):
                raise ValueError(f"bad name {m['name']!r} in {section}")
            if m["name"] in seen:
                raise ValueError(f"duplicate name {m['name']!r}")
            seen.add(m["name"])
            if section != "workloads":
                check_metric(m["name"], m["unit"])
                if m["better"] not in ("lower", "higher"):
                    raise ValueError(f"{m['name']}: better must be lower/higher")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            raise ValueError(f"{m['name']}: bound must be in (0, 0.25]")
    if not any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in spec["end_to_end"]):
        raise ValueError("end_to_end needs setup_s in s, lower is better")
