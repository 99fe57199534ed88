"""Seeded input generators for the benchmark.

* ``breweries``: an Open Brewery DB-shaped JSONL dump for day 1 and a
  day-2 re-extract of a seeded subset of partitions with updates, plus the
  counts the medallion pipeline must publish, computed here without Spark.
* ``corpus``: the ``documents``/``embeddings`` tables, built with the
  recipe of ``graft.tools.ScaleGen`` (30-word vocabulary, 10-100 words per
  doc, ~5% near-duplicates, ~0.2% exact duplicates, template splicing;
  64-dim unit vectors in 10 weak clusters).

The same seed gives byte-identical files. Inputs are cached under the
given directory, keyed by seed and generator version.
"""
import json
import math
import os
import random
import shutil

VERSION = "2"

# ---------------------------------------------------------------- breweries

BREWERIES = 16000          # distinct ids in the day-1 dump
DAY2_SHARE = 0.5           # share of partitions re-extracted on day 2

TYPES = [("micro", 40), ("brewpub", 25), ("planning", 8), ("regional", 6),
         ("closed", 5), ("contract", 4), ("large", 4), ("proprietor", 3),
         ("nano", 3), ("bar", 2)]

US_STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana", "Maine",
    "Maryland", "Massachusetts", "Michigan", "Minnesota", "Mississippi",
    "Missouri", "Montana", "Nebraska", "Nevada", "New Hampshire", "New Jersey",
    "New Mexico", "New York", "North Carolina", "North Dakota", "Ohio",
    "Oklahoma", "Oregon", "Pennsylvania", "Rhode Island", "South Carolina",
    "South Dakota", "Tennessee", "Texas", "Utah", "Vermont", "Virginia",
    "Washington", "West Virginia", "Wisconsin", "Wyoming"]

OTHER = [("Ireland", ["Leinster", "Munster", "Connacht"]),
         ("England", ["Greater London", "Yorkshire", "Kent", "Devon"]),
         ("Scotland", ["Lothian", "Highland"]),
         ("Poland", ["Mazowieckie", "Malopolskie", "Slaskie"]),
         ("Portugal", ["Lisboa", "Porto"]),
         ("Austria", ["Tirol", "Salzburg"]),
         ("Isle of Man", ["Douglas"])]

PLACES = [(s, "United States") for s in US_STATES] + \
    [(s, c) for c, states in OTHER for s in states]
PLACE_WEIGHTS = [60 if c == "United States" else 6 for _, c in PLACES]

WORDS = ["stone", "river", "iron", "oak", "hop", "barrel", "copper", "wild",
         "north", "golden", "red", "black", "old", "lucky", "crooked", "twin",
         "silver", "mountain", "harbor", "prairie", "cedar", "fox", "bear",
         "owl", "anchor", "lantern", "mill", "bridge", "summit", "valley"]
SUFFIXES = ["Brewing Company", "Brewery", "Beer Co", "Brewhouse",
            "Ales", "Craft Brewery", "Taproom"]
SYL = ["ash", "bel", "cor", "dal", "el", "fair", "glen", "har", "ing", "ker",
       "lin", "mor", "nor", "port", "ridge", "ston", "ton", "ville", "wood"]


def _cities(rng):
    out = {}
    for place in PLACES:
        n = 12 if place[1] == "United States" else 4
        names = set()
        while len(names) < n:
            w = "".join(rng.choice(SYL) for _ in range(rng.randint(2, 3)))
            if rng.random() < 0.2:
                w = rng.choice(["east", "west", "new", "port", "lake"]) + " " + w
            names.add(w.title())
        out[place] = sorted(names)
    return out


def _noisy(rng, s, p=0.35):
    """Case and space noise the silver clean must undo (trim + lower)."""
    if s is None or rng.random() >= p:
        return s
    r = rng.random()
    s = s.upper() if r < 0.35 else s.lower() if r < 0.7 else s
    r = rng.random()
    if r < 0.4:
        s = " " * rng.randint(1, 2) + s
    elif r < 0.8:
        s = s + " " * rng.randint(1, 2)
    return s


def _ts(day, sec):
    """Timestamp string `sec` seconds into 2025 before `day` (1 or 2)."""
    base = (day - 1) * 86400 + sec
    d, rem = divmod(base, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    mo, dd = divmod(d, 28)
    return "2025-%02d-%02dT%02d:%02d:%02d" % (1 + mo % 9, 1 + dd, h, m, s)


def _versions(rng, b, day, date, counter):
    """The dump lines of one brewery: 1-3 versions, noise and nulls."""
    n = 1 + (rng.random() < 0.12) + (rng.random() < 0.03)
    lines = []
    for k in range(n):
        counter[0] += 1
        v = dict(b)
        if k and rng.random() < 0.5:
            v["brewery_type"] = rng.choices([t for t, _ in TYPES],
                                            [w for _, w in TYPES])[0]
        rec = {
            "id": v["id"],
            "name": None if rng.random() < 0.01 else _noisy(rng, v["name"]),
            "brewery_type": _noisy(rng, v["brewery_type"], 0.2),
            "address_1": "%d %s St" % (rng.randint(1, 9999), rng.choice(WORDS).title()),
            "city": None if rng.random() < 0.02 else _noisy(rng, v["city"]),
            "state_province": v["state"],
            "postal_code": "%05d" % rng.randint(0, 99999),
            "country": None if rng.random() < 0.003 else _noisy(rng, v["country"], 0.2),
            "longitude": round(rng.uniform(-125, 30), 6),
            "latitude": round(rng.uniform(25, 60), 6),
            "phone": "%010d" % rng.randint(0, 10 ** 10 - 1),
            "website_url": "http://www.%s.com" % v["name"].lower().replace(" ", ""),
            "state": None if rng.random() < 0.005 else _noisy(rng, v["state"]),
            "street": None,
            # versions of one id never share a timestamp: the latest wins
            "updated_at": _ts(day, counter[0] * 3 + k),
            "ingestion_date": date,
        }
        lines.append(rec)
        if rng.random() < 0.01:
            lines.append(dict(rec))  # exact duplicate line
    return lines


def _norm(s):
    return None if s is None else s.lower().strip(" ")


def clean(lines):
    """Silver semantics: latest row per id, drop rows missing a required
    column, then trim+lower the string columns."""
    best = {}
    for r in lines:
        cur = best.get(r["id"])
        if cur is None or r["updated_at"] > cur["updated_at"]:
            best[r["id"]] = r
    out = []
    for r in best.values():
        if any(r[c] is None for c in ("id", "name", "state", "country")):
            continue
        out.append({c: _norm(r[c]) for c in
                    ("name", "city", "state", "country", "brewery_type")})
    return out


def _expected(lines, silver, date):
    """What each medallion stage must publish for one day."""
    by_state = {}
    for r in silver:
        by_state[r["state"]] = by_state.get(r["state"], 0) + 1
    ct = {(r["country"], r["brewery_type"]) for r in silver}
    sct = {(r["state"], r["city"], r["brewery_type"]) for r in silver}
    gold_rows = len(ct) + 2 * len(sct)
    null_type = sum(1 for _, t in ct if t is None) + 2 * sum(1 for _, _, t in sct if t is None)
    null_city = len(ct) + 2 * sum(1 for _, c, _ in sct if c is None)
    rules = [("No null values in brewery_type", null_type),
             ("No null values in city", null_city),
             ("Count > 0 for all states", 0)]
    report = "[\n" + ",\n".join(
        '  {"rule": %s, "passed": %s, "invalid_count": %d}'
        % (json.dumps(rule), "true" if n == 0 else "false", n)
        for rule, n in rules) + "\n]"
    return {
        "fetch_data_bronze@" + date: {"rows_captured": len(lines)},
        "transform_silver@" + date: {"rows_in": len(lines), "rows_clean": len(silver),
                                     "silver_by_state": by_state},
        "aggregate_gold@" + date: {"rollup_rows": gold_rows,
                                   "gold_by_rollup": {"by_country_type": len(ct),
                                                      "by_state_city_type": len(sct),
                                                      "by_type_city_state": len(sct)}},
        "validate_gold_quality@" + date: {"rules_checked": 3,
                                          "rules_failed": sum(1 for _, n in rules if n),
                                          "report": report},
    }


def breweries(seed, n=BREWERIES):
    """Returns (day1 lines, day2 lines, expected per stage call)."""
    rng = random.Random("breweries-%d" % seed)
    cities = _cities(rng)
    types, weights = [t for t, _ in TYPES], [w for _, w in TYPES]
    base = []
    for _ in range(n):
        place = rng.choices(PLACES, PLACE_WEIGHTS)[0]
        name = "%s %s %s" % (rng.choice(WORDS).title(), rng.choice(WORDS).title(),
                             rng.choice(SUFFIXES))
        base.append({"id": "%032x" % rng.getrandbits(128), "name": name,
                     "brewery_type": rng.choices(types, weights)[0],
                     "city": rng.choice(cities[place]), "state": place[0],
                     "country": place[1]})
    counter = [0]
    day1 = [ln for b in base for ln in _versions(rng, b, 1, "2025-10-15", counter)]
    rng.shuffle(day1)

    touched = {p for p in PLACES if rng.random() < DAY2_SHARE}
    day2_base = []
    for b in base:
        if (b["state"], b["country"]) not in touched or rng.random() < 0.03:
            continue
        b = dict(b)
        if rng.random() < 0.2:
            b["brewery_type"] = rng.choices(types, weights)[0]
        if rng.random() < 0.05:
            b["city"] = rng.choice(cities[(b["state"], b["country"])])
        day2_base.append(b)
    for _ in range(len(day2_base) // 20):
        place = rng.choice(sorted(touched))
        day2_base.append({"id": "%032x" % rng.getrandbits(128),
                          "name": "%s %s" % (rng.choice(WORDS).title(), rng.choice(SUFFIXES)),
                          "brewery_type": rng.choices(types, weights)[0],
                          "city": rng.choice(cities[place]), "state": place[0],
                          "country": place[1]})
    counter = [0]
    day2 = [ln for b in day2_base for ln in _versions(rng, b, 2, "2025-10-16", counter)]
    rng.shuffle(day2)

    silver1 = clean(day1)
    silver2_new = clean(day2)
    new_parts = {(r["state"], r["country"]) for r in silver2_new}
    # dynamic partition overwrite: day 2 replaces only the partitions it writes
    silver2 = [r for r in silver1 if (r["state"], r["country"]) not in new_parts] + silver2_new
    expected = _expected(day1, silver1, "2025-10-15")
    # rows per silver partition and gold roll-up are gated after the last day
    del expected["transform_silver@2025-10-15"]["silver_by_state"]
    del expected["aggregate_gold@2025-10-15"]["gold_by_rollup"]
    expected.update(_expected(day2, silver2, "2025-10-16"))
    expected["transform_silver@2025-10-16"]["rows_clean"] = len(silver2_new)
    return day1, day2, expected


def write_breweries(seed, out_dir, n=BREWERIES):
    day1, day2, expected = breweries(seed, n)
    for name, lines in (("day1.jsonl", day1), ("day2.jsonl", day2)):
        with open(os.path.join(out_dir, name), "w") as f:
            for r in lines:
                f.write(json.dumps(r, separators=(",", ":")) + "\n")
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True, indent=1)


# ------------------------------------------------------------------- corpus

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]

DOCS = 500
VECS = 200


def _lang(rng):
    p, acc = rng.random(), 0.0
    for lang, w in LANGS:
        acc += w
        if p < acc:
            return lang
    return LANGS[-1][0]


def corpus(seed, n_docs=DOCS, n_vecs=VECS):
    """Returns (documents rows, embeddings rows) as column dicts."""
    rng = random.Random("corpus-%d" % seed)
    texts = []
    for _ in range(n_docs):
        p = rng.random()
        if p < 0.05 and texts:
            base = rng.choice(texts).split(" ")
            text = " ".join(rng.choice(VOCAB) if rng.random() < 0.08 else w for w in base)
        elif p < 0.052 and texts:
            text = rng.choice(texts)
        else:
            words = [rng.choice(VOCAB) for _ in range(10 + rng.randrange(91))]
            if rng.random() < 0.20 and texts:
                src = rng.choice(texts).split(" ")
                if len(src) >= 12:
                    cl = 8 + rng.randrange(min(13, len(src) - 8))
                    frm = rng.randrange(len(src) - cl + 1)
                    at = rng.randrange(max(1, len(words) - cl))
                    k = min(cl, len(words) - at)
                    words[at:at + k] = src[frm:frm + k]
            text = " ".join(words)
        texts.append(text)
    docs = {"doc_id": list(range(n_docs)), "text": texts,
            "lang": [_lang(rng) for _ in range(n_docs)],
            "source": ["src%d" % (i % 20) for i in range(n_docs)],
            "n_chars": [len(t) for t in texts]}

    dims = 64
    centers = []
    for lab in range(10):
        cr = random.Random(777 + lab)
        c = [cr.gauss(0.0, 1.0) for _ in range(dims)]
        nrm = math.sqrt(sum(x * x for x in c))
        centers.append([x / nrm for x in c])
    embs, labels = [], []
    for _ in range(n_vecs):
        lab = rng.randrange(10)
        g = [rng.gauss(0.0, 1.0) for _ in range(dims)]
        gn = math.sqrt(sum(x * x for x in g))
        raw = [0.07 * centers[lab][d] + g[d] / gn for d in range(dims)]
        rn = math.sqrt(sum(x * x for x in raw))
        embs.append([x / rn for x in raw])
        labels.append(lab)
    vecs = {"vec_id": list(range(n_vecs)), "embedding": embs, "label": labels}
    return docs, vecs


def write_corpus(seed, out_dir, n_docs=DOCS, n_vecs=VECS):
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs, vecs = corpus(seed, n_docs, n_vecs)
    doc_schema = pa.schema([pa.field("doc_id", pa.int64(), nullable=False),
                            pa.field("text", pa.string()), pa.field("lang", pa.string()),
                            pa.field("source", pa.string()),
                            pa.field("n_chars", pa.int64(), nullable=False)])
    vec_schema = pa.schema([pa.field("vec_id", pa.int64(), nullable=False),
                            pa.field("embedding", pa.list_(pa.float32())),
                            pa.field("label", pa.int32(), nullable=False)])
    pq.write_table(pa.Table.from_pydict(docs, schema=doc_schema),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pydict(vecs, schema=vec_schema),
                   os.path.join(out_dir, "embeddings.parquet"))


# -------------------------------------------------------------------- cache

KEEP = 8  # cached seeds per kind; older ones are deleted


def ensure(kind, seed, cache_root):
    """Directory holding the `kind` inputs for `seed`, generated once."""
    out = os.path.join(cache_root, "%s-v%s-seed%d" % (kind, VERSION, seed))
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    if os.path.isdir(cache_root):
        old = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                      if d.startswith(kind + "-")), key=os.path.getmtime)
        for d in old[:max(0, len(old) - KEEP + 1)]:
            shutil.rmtree(d, ignore_errors=True)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    (write_breweries if kind == "breweries" else write_corpus)(seed, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
