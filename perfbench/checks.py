"""Correctness checks of one run's outputs.

Each check takes what the run produced (the harness's `observed`
record, staged files) and what the generator planted (`expect.json`)
and returns a list of problems; an empty list means correct. They are
pure functions so that perfbench/test_checks.py can feed each one a
deliberately wrong result.
"""
import csv
import glob
import json
import os

# -- etl_refresh -------------------------------------------------------


def check_etl_cycles(cycles, expect):
    """Per cycle: the refresh, the staged JSON/CSV counts, the table
    after the wave and the previous version. An operation that failed
    (and was counted as failed) has no observation to check."""
    bad = []
    for c in cycles:
        k, wave = c["cycle"], c["wave"]
        valid = len(expect["valid_ids"][wave])
        tag = "cycle %d" % k
        if "refresh_count" in c:
            if c["refresh_count"] != valid:
                bad.append("%s: refresh loaded %d, planted valid %d" % (tag, c["refresh_count"], valid))
            if c["refresh_failed_sources"]:
                bad.append("%s: refresh reported failed sources %s" % (tag, c["refresh_failed_sources"]))
        if "json_count" in c:
            for key in ("json_count", "csv_count"):
                if c[key] != valid:
                    bad.append("%s: staged %s %d, planted valid %d" % (tag, key, c[key], valid))
            ts = c.get("last_updated_ms")
            if ts is None or ts < c["refresh_start_ms"] - 1000:
                bad.append("%s: staged last_updated %s older than the refresh" % (tag, ts))
            if c["live_count"] != expect["live_counts"][k]:
                bad.append("%s: table has %d rows, expected %d"
                           % (tag, c["live_count"], expect["live_counts"][k]))
            if c["prev_version_count"] != expect["live_counts"][k - 1]:
                bad.append("%s: previous version has %d rows, expected %d"
                           % (tag, c["prev_version_count"], expect["live_counts"][k - 1]))
            if sorted(c["probes"]) != sorted(expect["probes"][k]):
                bad.append("%s: key reads %s, expected %s" % (tag, c["probes"], expect["probes"][k]))
    return bad


def _strings(rec):
    for v in rec.values():
        if isinstance(v, str):
            yield v
        elif isinstance(v, list):
            yield from (x for x in v if isinstance(x, str))


def check_staged_json(rows, valid_ids):
    """The staged JSON, read without Spark: the planted valid rows,
    trimmed strings, primary_* equal to the first array element."""
    bad = []
    ids = sorted(r["id"] for r in rows)
    if ids != sorted(valid_ids):
        bad.append("staged JSON holds %d ids, planted valid %d (or different ids)" % (len(ids), len(valid_ids)))
    for r in rows:
        untrimmed = [s for s in _strings(r) if s != s.strip(" ")]
        if untrimmed:
            bad.append("staged JSON id %s has untrimmed strings %r" % (r["id"], untrimmed[:2]))
        if not r.get("name") or not r.get("country") or not r.get("web_pages"):
            bad.append("staged JSON id %s misses an essential field" % r["id"])
        for arr, prim in (("domains", "primary_domain"), ("web_pages", "primary_website")):
            first = r[arr][0] if r.get(arr) else None
            if r.get(prim) != first:
                bad.append("staged JSON id %s: %s %r != first %s %r" % (r["id"], prim, r.get(prim), arr, first))
        if len(bad) > 20:
            break
    return bad


def check_staged_csv(header, rows, valid_ids):
    """The staged CSV, read without Spark: the planted valid rows, no
    missing or null cells, trimmed cells."""
    bad = []
    if "id" not in header:
        return ["staged CSV has no id column: %s" % header]
    idx = header.index("id")
    ids = sorted(int(r[idx]) for r in rows if len(r) > idx and r[idx])
    if len(rows) != len(valid_ids) or ids != sorted(valid_ids):
        bad.append("staged CSV holds %d rows, planted valid %d (or different ids)" % (len(rows), len(valid_ids)))
    for r in rows:
        if len(r) != len(header) or any(c is None or c.lower() == "null" for c in r):
            bad.append("staged CSV row has a null or missing cell: %r" % (r,))
        elif any(c != c.strip(" ") for c in r):
            bad.append("staged CSV row has an untrimmed cell: %r" % (r,))
        if len(bad) > 20:
            break
    return bad


def read_staged(stage_dir):
    rows = []
    for p in sorted(glob.glob(os.path.join(stage_dir, "json", "part-*.json"))):
        with open(p) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    header, crows = [], []
    for p in sorted(glob.glob(os.path.join(stage_dir, "csv", "part-*.csv"))):
        with open(p, newline="") as f:
            rd = list(csv.reader(f))
        if rd:
            header, crows = rd[0], crows + rd[1:]
    return rows, header, crows


def check_etl(observed, expect):
    bad = check_etl_cycles(observed["cycles"], expect)
    if observed["last_wave"] >= 0 and any("refresh_count" in c for c in observed["cycles"]):
        valid = expect["valid_ids"][observed["last_wave"]]
        rows, header, crows = read_staged(observed["stage_dir"])
        bad += check_staged_json(rows, valid)
        bad += check_staged_csv(header, crows, valid)
    return bad


# -- dedup_curate ------------------------------------------------------


def check_dedup(obs, expect):
    bad = []
    inp = set(expect["input_ids"])
    if obs["input"] != len(inp):
        bad.append("corpus read back %d docs, generated %d" % (obs["input"], len(inp)))
    sets = {k: set(obs[k]) for k in ("clean", "exact", "near", "decontaminated", "sample")}
    for k, s in sets.items():
        if len(s) != len(obs[k]):
            bad.append("%s output repeats ids" % k)
        if not s <= inp:
            bad.append("%s output has ids not in the input" % k)
    clean = inp - set(expect["blank_ids"])
    if sets["clean"] != clean:
        bad.append("requireFields kept %d docs, expected %d" % (len(sets["clean"]), len(clean)))
    want_exact = clean - set(expect["exact_removed"])
    if sets["exact"] != want_exact:
        bad.append("exact dedup kept %d docs, expected %d (removed %d extra, kept %d duplicates)"
                   % (len(sets["exact"]), len(want_exact), len(want_exact - sets["exact"]),
                      len(sets["exact"] - want_exact)))
    for c in expect["exact_clusters"]:
        for k in ("exact", "near", "decontaminated"):
            if len(sets[k] & set(c)) > 1:
                bad.append("%s survivors share exact-duplicate cluster %s" % (k, c))
                break
    near, exact = sets["near"], sets["exact"]
    if not near <= exact:
        bad.append("near dedup output is not a subset of its input")
    pairs = expect["near_pairs"]
    found = sum(1 for a, b, _ in pairs if not (a in near and b in near))
    bound = sum(lsh_bound(j, expect) for _, _, j in pairs) / max(len(pairs), 1)
    if found / max(len(pairs), 1) < bound:
        bad.append("near-duplicate recall %.4f below the LSH bound %.4f" % (found / len(pairs), bound))
    planted = {x for a, b, _ in pairs for x in (a, b)}
    stray = (exact - near) - planted
    if stray:
        bad.append("near dedup removed %d docs outside planted near-duplicate pairs" % len(stray))
    for a, b, j in expect["far_pairs"]:
        if j >= expect["min_jaccard"]:
            bad.append("generator planted a below-threshold pair at Jaccard %.3f" % j)
        if a not in near or b not in near:
            bad.append("near dedup removed a doc of a below-threshold pair (%d, %d, J=%.3f)" % (a, b, j))
    if obs["pairs_again"] or obs["exact_again"] != len(near):
        bad.append("dedup of the survivors removes more (%d near-duplicate pairs, %d exact groups of %d)"
                   % (obs["pairs_again"], obs["exact_again"], len(near)))
    want_decon = near - set(expect["contaminated"])
    if sets["decontaminated"] != want_decon:
        bad.append("decontamination kept %d docs, expected %d" % (len(sets["decontaminated"]), len(want_decon)))
    left = set(expect["planted_contaminated"]) & sets["decontaminated"]
    if left:
        bad.append("%d planted contaminated docs survived decontamination" % len(left))
    sample, decon = sets["sample"], sets["decontaminated"]
    if not sample <= decon:
        bad.append("mixture sample has docs outside its input")
    src = expect["source_of"]
    for s, rate in obs["rates"].items():
        pool = [i for i in decon if src[str(i)] == s]
        kept = sum(1 for i in pool if i in sample)
        if rate >= 1.0 and kept != len(pool):
            bad.append("mixture sample dropped docs of full-rate source %s" % s)
        elif pool and abs(kept / len(pool) - rate) > 0.05:
            bad.append("mixture sample kept %.3f of %s, rate %.2f" % (kept / len(pool), s, rate))
    return bad


def lsh_bound(j, expect):
    return 1 - (1 - j ** expect["rows"]) ** expect["bands"]
