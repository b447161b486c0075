"""Seeded input generators for the benchmark workloads.

Each generator writes the inputs the program reads plus an
`expect.json` of what a correct run must produce, computed here,
apart from the program. The same seed gives the same files.
"""
import json
import os
import random
import re

# -- etl_refresh -------------------------------------------------------

SOURCES = {"canada": ("Canada", "CA"), "japan": ("Japan", "JP"),
           "kenya": ("Kenya", "KE"), "peru": ("Peru", "PE")}
ETL_WAVES = 4            # refresh waves, reused round-robin by the cycles
ETL_PER_SOURCE = 2000    # records per source file per wave
CDC_WAVES = 40           # change files: c0000 is the initial load
CDC_BASE = 20000         # rows of the initial load
CDC_UPDATES = 1200       # per change wave; inserts/deletes vary around 375


def _word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 9)))


def _pad(rng, s, p):
    """Pad `s` with spaces on either side with probability p."""
    if rng.random() < p:
        return " " * rng.randint(1, 3) + s + " " * rng.randint(0, 2)
    return s


def _university(rng, rid, country, code):
    """One university-like record with planted defects; returns
    (record, valid) where valid mirrors the essential-field rule."""
    name = _pad(rng, "University of %s %s" % (_word(rng).title(), _word(rng).title()), 0.2)
    r = rng.random()
    if r < 0.03:
        name = None
    elif r < 0.06:
        name = "   "
    ctry = _pad(rng, country, 0.15)
    r = rng.random()
    if r < 0.02:
        ctry = None
    elif r < 0.04:
        ctry = ""
    host = "%s.edu.%s" % (_word(rng), code.lower())
    domains = [] if rng.random() < 0.08 else [host] + (["www." + host] if rng.random() < 0.3 else [])
    domains = [_pad(rng, d, 0.1) for d in domains]
    pages = [] if rng.random() < 0.07 else ["http://www.%s/" % host]
    if pages and rng.random() < 0.2:
        pages.append("https://%s/" % host)
    pages = [_pad(rng, p, 0.1) for p in pages]
    rec = {"id": rid, "name": name, "country": ctry, "alpha_two_code": code,
           "state-province": None if rng.random() < 0.4 else _word(rng).title(),
           "domains": domains, "web_pages": pages}
    valid = bool(name and name.strip(" ") and ctry and ctry.strip(" ") and pages)
    return rec, valid


def gen_etl(seed, out):
    rng = random.Random(seed * 1000003 + 1)
    base = os.path.join(out, "etl")
    valid_ids = []
    for w in range(ETL_WAVES):
        wdir = os.path.join(base, "waves", "w%d" % w)
        os.makedirs(wdir)
        ids = []
        for si, (src, (country, code)) in enumerate(sorted(SOURCES.items())):
            with open(os.path.join(wdir, src + ".json"), "w") as f:
                for j in range(ETL_PER_SOURCE):
                    rid = (w + 1) * 1000000 + si * 100000 + j
                    rec, ok = _university(rng, rid, country, code)
                    f.write(json.dumps(rec) + "\n")
                    if ok:
                        ids.append(rid)
        valid_ids.append(ids)

    # a source that fails only when executed: not a parquet file
    os.makedirs(os.path.join(base, "corrupt"))
    with open(os.path.join(base, "corrupt", "part-00000.parquet"), "w") as f:
        f.write("this is not a parquet file\n")

    # change waves for the streaming upsert: ids are keys; each wave
    # updates, inserts and deletes, so the live count drifts a little
    cdc = os.path.join(base, "cdc")
    os.makedirs(cdc)
    countries = [c for c, _ in SOURCES.values()]
    live = {}
    next_id = 1
    live_counts, probes, probe_expect = [], [], []

    def row(i, v, deleted=False):
        return {"id": i, "name": "Org %d v%d" % (i, v), "country": rng.choice(countries),
                "score": rng.randint(0, 1000), "_deleted": deleted}

    for k in range(CDC_WAVES):
        rows = []
        if k == 0:
            for _ in range(CDC_BASE):
                rows.append(row(next_id, 0))
                next_id += 1
            probe = []
        else:
            keys = sorted(live)
            n_del = 300 + rng.randint(0, 150)
            n_ins = 300 + rng.randint(0, 150)
            picked = rng.sample(keys, CDC_UPDATES + n_del)
            upd, dele = picked[:CDC_UPDATES], picked[CDC_UPDATES:]
            rows += [row(i, k) for i in upd]
            rows += [row(i, k, deleted=True) for i in dele]
            ins = list(range(next_id, next_id + n_ins))
            next_id += n_ins
            rows += [row(i, k) for i in ins]
            rng.shuffle(rows)
            probe = upd[:2] + dele[:2] + ins[:2]
        for r in rows:
            if r["_deleted"]:
                live.pop(r["id"], None)
            else:
                live[r["id"]] = r["name"]
        with open(os.path.join(cdc, "c%04d.json" % k), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        live_counts.append(len(live))
        probes.append(probe)
        probe_expect.append(sorted([i, live[i]] for i in probe if i in live))

    meta = {"sources": sorted(SOURCES), "waves": ETL_WAVES, "cdc_waves": CDC_WAVES,
            "probes": probes}
    with open(os.path.join(base, "meta.json"), "w") as f:
        json.dump(meta, f)
    expect = {"valid_ids": valid_ids, "live_counts": live_counts, "probes": probe_expect}
    with open(os.path.join(base, "expect.json"), "w") as f:
        json.dump(expect, f)


# -- dedup_curate ------------------------------------------------------

DEDUP_DOCS = 12000       # corpus size (documents, including planted ones)
DEDUP_FILES = 8          # corpus part files
VOCAB = 20000
EVAL_DOCS = 100
SHINGLE_N = 3            # Dedup's n-gram size
BANDS, ROWS = 16, 4      # Dedup's LSH banding: 64 permutations, 16 bands
CONTAM_N = 4             # Curation.decontaminate's n-gram size
MIN_JACCARD = 0.8        # Dedup's verification threshold
SOURCE_WEIGHTS = {"web": 0.5, "code": 0.15, "books": 0.15, "wiki": 0.2}


def normalized(text):
    """The canonical form Dedup hashes: trim spaces, lower-case,
    collapse whitespace runs."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def shingles(text, n):
    toks = normalized(text).split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b, n=SHINGLE_N):
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def gen_dedup(seed, out):
    rng = random.Random(seed * 1000003 + 2)
    vocab = list({_word(rng) for _ in range(VOCAB)})
    vocab.sort()

    def text(lo=30, hi=55):
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    def replaced(toks, k):
        """Copy of toks with k interior tokens replaced, spread out."""
        t = list(toks)
        step = len(t) // (k + 1)
        for i in range(1, k + 1):
            t[i * step] = rng.choice(vocab)
        return t

    docs = []          # texts; planted documents are recorded by index
    exact_clusters, near_pairs, far_pairs, blanks, contaminated = [], [], [], [], []
    eval_texts = [" ".join(text(30, 40)) for _ in range(EVAL_DOCS)]

    def add(t):
        docs.append(t)
        return len(docs) - 1

    for _ in range(DEDUP_DOCS // 100):
        blanks.append(add(rng.choice(["", "   "])))
    for _ in range(DEDUP_DOCS // 40):
        toks = text()
        members = [add(" ".join(toks))]
        for _ in range(rng.randint(1, 2)):
            v = [w.upper() if rng.random() < 0.2 else w for w in toks]
            members.append(add("  " + "  ".join(v) + " "))
        exact_clusters.append(members)
    for _ in range(DEDUP_DOCS // 60):
        while True:
            toks = text()
            var = replaced(toks, 1)
            if jaccard(" ".join(toks), " ".join(var)) >= 0.85:
                break
        near_pairs.append((add(" ".join(toks)), add(" ".join(var))))
    for _ in range(DEDUP_DOCS // 120):
        toks = text()
        var = replaced(toks, 4)
        far_pairs.append((add(" ".join(toks)), add(" ".join(var))))
    for _ in range(DEDUP_DOCS // 120):
        toks = text()
        ev = rng.choice(eval_texts).split(" ")
        at = rng.randint(0, len(ev) - 8)
        pos = rng.randint(1, len(toks) - 1)
        toks[pos:pos] = ev[at:at + 8]
        contaminated.append(add(" ".join(toks)))
    while len(docs) < DEDUP_DOCS:
        add(" ".join(text()))

    # ids: a seeded permutation, so id order says nothing of planting
    ids = rng.sample(range(1, 10 * DEDUP_DOCS), len(docs))
    sources = rng.choices(sorted(SOURCE_WEIGHTS), [SOURCE_WEIGHTS[s] for s in sorted(SOURCE_WEIGHTS)],
                          k=len(docs))

    ddir = os.path.join(out, "dedup")
    os.makedirs(os.path.join(ddir, "corpus"))
    os.makedirs(os.path.join(ddir, "eval"))
    order = list(range(len(docs)))
    rng.shuffle(order)
    files = [open(os.path.join(ddir, "corpus", "part-%02d.json" % i), "w") for i in range(DEDUP_FILES)]
    for n, i in enumerate(order):
        files[n % DEDUP_FILES].write(json.dumps(
            {"doc_id": ids[i], "source": sources[i], "text": docs[i]}) + "\n")
    for f in files:
        f.close()
    with open(os.path.join(ddir, "eval", "part-00.json"), "w") as f:
        for i, t in enumerate(eval_texts):
            f.write(json.dumps({"doc_id": 100 * DEDUP_DOCS + i, "source": "eval", "text": t}) + "\n")

    # -- expectations, computed here --
    clean = [i for i in range(len(docs)) if docs[i].strip(" ")]
    by_norm = {}
    for i in clean:
        by_norm.setdefault(normalized(docs[i]), []).append(ids[i])
    exact_removed = sorted(x for group in by_norm.values() for x in sorted(group)[1:])
    eval_grams = set()
    for t in eval_texts:
        eval_grams |= shingles(t, CONTAM_N)
    contaminated_all = sorted(ids[i] for i in clean if shingles(docs[i], CONTAM_N) & eval_grams)
    expect = {
        "input_ids": sorted(ids),
        "source_of": {str(ids[i]): sources[i] for i in range(len(docs))},
        "blank_ids": sorted(ids[i] for i in blanks),
        "exact_removed": exact_removed,
        "exact_clusters": [[ids[i] for i in c] for c in exact_clusters],
        "near_pairs": [[ids[a], ids[b], jaccard(docs[a], docs[b])] for a, b in near_pairs],
        "far_pairs": [[ids[a], ids[b], jaccard(docs[a], docs[b])] for a, b in far_pairs],
        "planted_contaminated": sorted(ids[i] for i in contaminated),
        "contaminated": contaminated_all,
        "min_jaccard": MIN_JACCARD,
        "bands": BANDS, "rows": ROWS,
    }
    with open(os.path.join(ddir, "expect.json"), "w") as f:
        json.dump(expect, f)


GENERATORS = {"etl_refresh": gen_etl, "dedup_curate": gen_dedup}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`."""
    gen = GENERATORS.get(workload)
    if gen:
        gen(seed, out)
