"""The benchmark's arithmetic: statistics, the registry sample, and the
parse of the harness's metric records into the result line."""
import math
import random
import re
import statistics

# The registry sample's members are fixed by this seed, not by --seed, so
# every run times the same queries; --seed only orders them (and makes
# the inputs).
REGISTRY_SAMPLE_SEED = 5
REGISTRY_PER_FILE = 1


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(Q1, median, Q3) as statistics.quantiles(values, n=4) gives them."""
    return tuple(statistics.quantiles(values, n=4))


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def registry_strata(sources):
    """Query names per registry file, from the sources of the files'
    `queries` maps: {file name: Scala source text} -> {file name: names}."""
    strata = {}
    for name, text in sources.items():
        body = text.split("val queries", 1)[1].split("val oracleSql", 1)[0]
        strata[name] = sorted(set(re.findall(r'^\s*"([A-Za-z0-9_]+)"\s*->', body, re.M)))
    return strata


def registry_ops(strata, extra, seed, per_file=REGISTRY_PER_FILE,
                 sample_seed=REGISTRY_SAMPLE_SEED):
    """The registry workload's ops: `per_file` queries drawn from each
    registry file (the same for every seed; names in `extra` are not
    drawn) plus the `extra` queries, all in an order drawn from `seed`."""
    members = list(extra)
    for name in sorted(strata):
        pool = [q for q in strata[name] if q not in extra]
        members += random.Random(f"{sample_seed}:{name}").sample(pool, per_file)
    members.sort()
    random.Random(seed).shuffle(members)
    return members


def parse_records(lines):
    """Group the harness's tab-separated records by kind (see
    Harness.emit): {kind: [fields, ...]}."""
    records = {}
    for line in lines:
        line = line.rstrip("\n")
        if line:
            kind, *fields = line.split("\t")
            records.setdefault(kind, []).append(fields)
    return records


def end_to_end(records, t0):
    """The end-to-end metrics of a run from its records; `t0` is the epoch
    second the run began preparing its inputs. Each op's wall and CPU
    times are its fastest over the timed passes (pass 0 warms up):
    `cpu_s` and `wall_s` are their sums, `op_cpu_geomean_s` and
    `op_geomean_s` their geometric means; `heap_peak_mb` is the median of
    the timed passes' peaks."""
    def fastest(kind):
        best = {}
        for p, op, secs, *_ in records[kind]:
            if int(p) > 0:
                best[op] = min(best.get(op, math.inf), float(secs))
        return list(best.values())
    wall, cpu = fastest("op"), fastest("cpu")
    heaps = [float(heap) for _, _, heap in records["pass"]]
    first_op = int(records["first_op_ms"][0][0]) / 1000.0
    return {
        "setup_s": (first_op - t0, "s"),
        "cpu_s": (sum(cpu), "s"),
        "op_cpu_geomean_s": (geomean(cpu), "s"),
        "wall_s": (sum(wall), "s"),
        "op_geomean_s": (geomean(wall), "s"),
        "heap_peak_mb": (median(heaps), "MB"),
    }


def per_layer(records, yield_ops):
    """Per-layer metrics of a traced run, the median over its passes:
    {metric: value} for the workload and {op: {metric: value}} per op.
    `exec.verify_yield` is verified over candidate rows, summed over the
    ops in `yield_ops`."""
    whole, ops = {}, {}
    for _, metric, value in records.get("layer", []):
        whole.setdefault(metric, []).append(float(value))
    for p, op, metric, value in records.get("oplayer", []):
        ops.setdefault(op, {}).setdefault(metric, {})[int(p)] = float(value)
    cand = {}
    for op, m in ops.items():
        if op not in yield_ops:
            continue
        for p, v in m.get("exec.candidates", {}).items():
            c, ver = cand.get(p, (0.0, 0.0))
            cand[p] = (c + v, ver + m["exec.verified"][p])
    if cand:
        whole["exec.verify_yield"] = [v / c if c else 0.0 for c, v in cand.values()]
    out = {k: median(v) for k, v in whole.items()}
    out.setdefault("exec.verify_yield", 0.0)
    per_op = {op: {k: median(list(v.values())) for k, v in m.items()} for op, m in ops.items()}
    return out, per_op


def result_line(correct, attempted, failed, metrics):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
