"""How each workload's queries are chosen from measured per-query times.

    python3 perfbench/sample.py

prints each workload's sample as its rule draws it from the measured
basis in perfbench/workloads.json; the workload's `queries` list must
equal it (test_perfbench.py checks this).

surface: the users' mix. Each family gets a share of the `size` queries
in proportion to its share of the measured pass time (largest
remainder, at least one each), and within a family the picks sit at
evenly spaced quantiles of its queries' measured times, so the sample
keeps both the family mix and the spread from cheap to costly queries.

scale-x4: where data cost dominates. Each family contributes the query
whose time grew most from the sf0.01 pass to the x4 pass, among those
that took at most `cap_s` at x4, so that a run fits its time budget.

In both, io picks come from the Sinks pack: it is the only io pack that
writes files, and the sink/source layer is measured by those writes.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _io_rule(family, pack):
    return family != "io" or pack == "Sinks"


def surface(basis, size):
    """basis: {query: [family, pack, seconds]}."""
    times = {}
    for q, (family, pack, t) in basis.items():
        times.setdefault(family, {})
        if _io_rule(family, pack):
            times[family][q] = t
    total = sum(t for _, _, t in basis.values())
    share = {f: sum(t for q, (g, _, t) in basis.items() if g == f) / total for f in times}
    count = {f: max(1, int(share[f] * size)) for f in times}
    while sum(count.values()) < size:
        count[max(sorted(times), key=lambda f: share[f] * size - count[f])] += 1
    picks = []
    for f in sorted(times):
        ranked = sorted(times[f], key=lambda q: (times[f][q], q))
        k = count[f]
        picks += [ranked[min(len(ranked) - 1, int((i + 0.5) / k * len(ranked)))] for i in range(k)]
    return sorted(picks)


def scale(basis, cap_s):
    """basis: {query: [family, pack, seconds at x4, seconds at sf0.01]}."""
    best = {}
    for q, (family, pack, t4, t1) in sorted(basis.items()):
        if t4 <= cap_s and _io_rule(family, pack):
            if family not in best or t4 / t1 > best[family][1]:
                best[family] = (q, t4 / t1)
    return sorted(q for q, _ in best.values())


RULES = {"surface": surface, "scale": scale}


def draw(workload):
    """The sample of a workload spec from workloads.json."""
    rule = workload["sample"]
    return RULES[rule["rule"]](workload["basis"]["queries"], rule["param"])


if __name__ == "__main__":
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    for name, w in spec["workloads"].items():
        print(name, " ".join(draw(w)))
