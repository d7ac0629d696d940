"""Output checks of the registry and crawl workloads, run after the JVM has
written its results (never inside a timed region).

Goldens live in `perfbench/goldens/<workload>.json`, keyed by data seed, and
are recorded from the program with `run.py --record-goldens`. Every data
seed has goldens, so every run is checked in full."""
import json
import os

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")


def load_goldens(workload):
    path = os.path.join(GOLDENS, f"{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def save_goldens(workload, goldens):
    os.makedirs(GOLDENS, exist_ok=True)
    with open(os.path.join(GOLDENS, f"{workload}.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


def missing(workload, seed):
    return [{"name": f"golden:{workload}", "ok": False,
             "detail": f"no goldens for data seed {seed}"}]


def check_registry(raw, seed):
    """Compares every query's fingerprint (rows, xor, sum of a per-row hash
    of all columns) with the golden of this data seed. A query listed as
    `row_count_only` had fingerprints that differed between two recordings
    of one seed; it is checked on its row count."""
    g = load_goldens("registry")
    goldens = g.get(str(seed))
    if goldens is None:
        return missing("registry", seed)
    unstable = set(g.get("row_count_only", []))
    checks = []
    for q in raw["values"].get("queries", []):
        if not q["ok"]:
            continue  # the JVM already reported the failure
        name, got, want = q["name"], q["print"], goldens.get(q["name"])
        if want is None:
            ok = False
        elif name in unstable:
            ok = got[0] == want[0]
        else:
            ok = got == want
        checks.append({"name": f"golden:{name}", "ok": ok,
                       "detail": "" if ok else f"{got} vs {want}"})
    return checks


def record_registry(raw, seed):
    """Stores this run's fingerprints as goldens of `seed`. A query whose
    fingerprint differs from an earlier recording of the same seed is moved
    to the row-count-only list."""
    g = load_goldens("registry")
    old = g.get(str(seed), {})
    unstable = set(g.get("row_count_only", []))
    for q in raw["values"].get("queries", []):
        if not q["ok"]:
            continue
        if q["name"] in old and old[q["name"]] != q["print"]:
            unstable.add(q["name"])
        old.setdefault(q["name"], q["print"])
    g[str(seed)] = old
    g["row_count_only"] = sorted(unstable)
    save_goldens("registry", g)


CRAWL_KEYS = ["popped", "page_chars", "page_metrics"]


def crawl_prints(raw):
    """Per crawl: per-round popped counts and extracted volume, and the
    seen-set fingerprint after its last round."""
    out = {}
    for rd in raw["values"].get("rounds", []):
        p = out.setdefault(rd["phase"], {"rounds": {}, "seen_after": {}})
        p["rounds"][str(rd["round"])] = {k: rd[k] for k in CRAWL_KEYS}
    for phase, seen in raw["values"].get("seen", {}).items():
        last = max(out[phase]["rounds"], key=int)
        out[phase]["seen_after"][last] = seen
    return out


def check_crawl(raw, seed):
    """Compares each crawl's rounds and final seen set with the goldens of
    this data seed. A round or a run length without a golden fails."""
    golden = load_goldens("crawl").get(str(seed))
    if golden is None:
        return missing("crawl", seed)
    checks = []
    for phase, got in crawl_prints(raw).items():
        want = golden.get(phase, {"rounds": {}, "seen_after": {}})
        for r, rd in got["rounds"].items():
            g = want["rounds"].get(r)
            bad = [k for k in CRAWL_KEYS if g is None or g[k] != rd[k]]
            checks.append({"name": f"golden:{phase}.r{r}", "ok": not bad,
                           "detail": "" if not bad else f"differs in {bad}"})
        for r, seen in got["seen_after"].items():
            ok = want["seen_after"].get(r) == seen
            checks.append({"name": f"golden:{phase}.seen_after_r{r}", "ok": ok,
                           "detail": "" if ok else f"{seen} vs {want['seen_after'].get(r)}"})
    return checks


def record_crawl(raw, seed):
    """Stores this run's rounds and seen set as goldens of `seed`, beside
    those of runs of other lengths."""
    g = load_goldens("crawl")
    entry = g.setdefault(str(seed), {})
    for phase, p in crawl_prints(raw).items():
        e = entry.setdefault(phase, {"rounds": {}, "seen_after": {}})
        e["rounds"].update(p["rounds"])
        e["seen_after"].update(p["seen_after"])
    save_goldens("crawl", g)
