#!/usr/bin/env python3
"""Chooses the pinned query list of the mixed_queries workload from a
measured run of all 141 queries, and checks the choice against the suite.

    python3 perfbench/run.py --workload queries_all --seed 1 --seconds 160 --trace 0
    python3 perfbench/select_queries.py .bench_build/perfbench/results/queries_all-seed1-trace0.json

Rule: the 14 slots go to the query families (x_pdf, x_html, x_stream,
other) in proportion to their sizes, by largest remainder, at least one
each. Within a family the queries are sorted by their measured time
(median over the passes of build + count) and cut into as many
equal-count strata as the family has slots; each stratum gives its median
member. The script prints the list, then the suite's and the list's
per-query quantiles and phase shares side by side.
"""
import json
import statistics
import sys

SLOTS = 14
FAMILIES = ("x_pdf", "x_html", "x_stream", "other")


def family(name):
    return next((f for f in FAMILIES[:-1] if name.startswith(f + "_")), "other")


def per_query(raw):
    """name -> per-pass records of the query, from every pass."""
    out = {}
    for p in raw["query_passes"]:
        for q in p["queries"]:
            if q["ok"] is not True:
                sys.exit(f"{q['name']} failed in pass {p['pass']}: {q['error']}")
            out.setdefault(q["name"], []).append(q)
    return out


def med(recs, f):
    return statistics.median(f(r) for r in recs)


def measures(recs):
    ph = lambda k: (lambda r: r["phases"].get(k, 0.0))
    total = med(recs, lambda r: r["build_s"] + r["count_s"])
    return {
        "total": total,
        "build": med(recs, lambda r: r["build_s"]),
        "optimization+planning": med(recs, lambda r: ph("optimization")(r) + ph("planning")(r)),
        "analysis": med(recs, ph("analysis")),
        "codegen": med(recs, lambda r: r["codegen_s"]),
        "execute": med(recs, lambda r: r["count_s"] - ph("optimization")(r) - ph("planning")(r)),
    }


def allocate(sizes):
    n = sum(sizes.values())
    quota = {f: SLOTS * s / n for f, s in sizes.items()}
    slots = {f: max(1, int(q)) for f, q in quota.items()}
    for f in sorted(quota, key=lambda f: quota[f] - int(quota[f]), reverse=True):
        if sum(slots.values()) >= SLOTS:
            break
        slots[f] += 1
    return slots


def strata_medians(names, k):
    """Median member of each of k contiguous, near-equal strata."""
    out, start = [], 0
    for i in range(k):
        size = len(names) // k + (1 if i < len(names) % k else 0)
        group = names[start:start + size]
        out.append(group[(len(group) - 1) // 2])
        start += size
    return out


def summary(m, names):
    t = sorted(m[n]["total"] for n in names)
    q = statistics.quantiles(t, n=10, method="inclusive")
    total = sum(t)
    row = {"queries": len(names), "p50_s": statistics.median(t), "p90_s": q[8], "mean_s": total / len(t)}
    for k in ("build", "analysis", "optimization+planning", "codegen", "execute"):
        row[k + "_share"] = sum(m[n][k] for n in names) / total
    return row


def main():
    raw = json.load(open(sys.argv[1]))
    m = {n: measures(recs) for n, recs in per_query(raw).items()}
    by_fam = {}
    for n in sorted(m):
        by_fam.setdefault(family(n), []).append(n)
    slots = allocate({f: len(by_fam.get(f, [])) for f in FAMILIES})
    chosen = []
    for f in FAMILIES:
        ranked = sorted(by_fam[f], key=lambda n: (m[n]["total"], n))
        chosen += strata_medians(ranked, slots[f])
    print("slots:", slots)
    print("pinned:", ", ".join(f'"{n}"' for n in chosen))
    a, b = summary(m, sorted(m)), summary(m, chosen)
    print("| | " + " | ".join(a) + " |")
    print("|---" * (len(a) + 1) + "|")
    for label, row in (("all", a), ("pinned", b)):
        print(f"| {label} | " + " | ".join(f"{v:.3f}" if isinstance(v, float) else str(v) for v in row.values()) + " |")
    print("\nper query (s):")
    for n in chosen:
        print(f"  {n:28s} {family(n):8s} {m[n]['total']:.3f}")


if __name__ == "__main__":
    main()
