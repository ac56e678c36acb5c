"""Statistics the benchmark reports: tail percentiles, span self times,
and failure ratios."""

TAIL_BEYOND = 10


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample_count). With n samples sorted
    ascending, the value at 1-based rank n - beyond has exactly `beyond`
    samples ranked above it, so it is the (100 * (n - beyond) / n)-th
    percentile. Fewer than beyond + 1 samples have no such percentile."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    ordered = sorted(samples)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
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
    """Self time of each span: its duration minus the part of it that its
    child spans cover. Children may overlap each other (threads run them
    concurrently); the covered part is their union, so overlap is not
    subtracted twice. `spans` are dicts with id, parent, start_s, end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    return {s["id"]: (s["end_s"] - s["start_s"])
            - union_length(children.get(s["id"], []), s["start_s"], s["end_s"])
            for s in spans}


def failed_ops(attempted, threw, wrong):
    """Operations that failed: those that threw plus those found wrong,
    never more than were attempted (one wrong write can leave several
    published tables wrong)."""
    return min(attempted, threw + wrong)


def failure_ratio(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def wave_idle(tasks):
    """Core-seconds idle at Kahn-wave barriers: each task's slot waits from
    its own end until the slowest task of its wave ends. `tasks` are
    (wave, start_s, end_s)."""
    ends = {}
    for w, _, e in tasks:
        ends[w] = max(ends.get(w, e), e)
    return sum(ends[w] - e for w, _, e in tasks)
