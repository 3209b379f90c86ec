"""Seeded input generators for the benchmark workloads.

Each generator writes the input files the CLI reads, plus a manifest of the
facts the verifier checks: expected row counts, field counts and types, and
for text_pipeline the planted document classes.  The program never sees the
manifest.  The same (workload, seed, scale) always yields the same bytes.
"""
import json
import os
import random

# documents per workload at scale 1.0.  ndjson_forest is sized so parsing,
# exploding, type guessing and writing, not the fixed per-job floor, take
# most of a run (about 6 s warm on a 4-core box, against about 2 s for a
# run of 75 documents); text_pipeline's runs are dominated by its ops stages
BASE_DOCS = {"ndjson_forest": 12000, "text_pipeline": 1000}
NDJSON_FILES = 4

WEATHER = [
    (800, "Clear", "clear sky", "01d"), (801, "Clouds", "few clouds", "02d"),
    (802, "Clouds", "scattered clouds", "03d"), (804, "Clouds", "overcast clouds", "04d"),
    (500, "Rain", "light rain", "10d"), (501, "Rain", "moderate rain", "10d"),
    (600, "Snow", "light snow", "13d"), (701, "Mist", "mist", "50d"),
]
COUNTRIES = ["GB", "FR", "DE", "ES", "IT", "NL", "SE", "NO", "PL", "PT", "IE", "DK"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "zu", "be", "da", "fe",
             "gi", "ho", "ju", "ke", "li", "mo", "nu", "pa", "qui", "re", "si", "ta",
             "ul", "ve", "wo", "xa", "yo", "ze", "ar", "en", "is", "or", "um", "ys"]
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# table -> field -> guessed type; every field of the OpenWeather shape
WEATHER_TYPES = {
    "main": {"_link": "text", "city_id": "number", "city_name": "text",
             "city_country": "text", "city_coord_lon": "number",
             "city_coord_lat": "number", "time": "number"},
    "data": {"_link": "text", "_link_main": "text", "dt": "number",
             "pressure": "number", "humidity": "number", "speed": "number",
             "deg": "number", "clouds": "number", "rain": "number", "uvi": "number",
             "temp_day": "number", "temp_min": "number", "temp_max": "number",
             "temp_night": "number", "temp_eve": "number", "temp_morn": "number"},
    "data_weather": {"_link": "text", "_link_main": "text", "_link_data": "text",
                     "id": "number", "main": "text", "description": "text",
                     "icon": "text"},
}


def _word(rng, lo=2, hi=4):
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))


def _weather_doc(rng, i):
    t0 = 1600000000 + i * 3600
    data = []
    rain = 0
    n_weather = 0
    for j in range(rng.randint(4, 12)):
        e = {"dt": t0 + j * 86400,
             "temp": {k: round(rng.uniform(-10, 35), 2)
                      for k in ("day", "min", "max", "night", "eve", "morn")},
             "pressure": round(rng.uniform(960, 1050), 1),
             "humidity": rng.randint(10, 100),
             "weather": [dict(zip(("id", "main", "description", "icon"), rng.choice(WEATHER)))
                         for _ in range(rng.randint(1, 2))],
             "speed": round(rng.uniform(0, 30), 2),
             "deg": rng.randint(0, 359),
             "clouds": rng.randint(0, 100),
             "uvi": round(rng.uniform(0, 11), 2)}
        if rng.random() < 1 / 3:
            e["rain"] = round(rng.uniform(0.1, 40), 2)
            rain += 1
        n_weather += len(e["weather"])
        data.append(e)
    doc = {"city": {"id": 100000 + i, "name": _word(rng).capitalize(),
                    "country": rng.choice(COUNTRIES),
                    "coord": {"lon": round(rng.uniform(-180, 180), 4),
                              "lat": round(rng.uniform(-90, 90), 4)}},
           "time": t0, "data": data}
    return doc, len(data), n_weather, rain


def _weather_manifest(docs, n_data, n_weather, rain):
    counts = {"main": docs, "data": n_data, "data_weather": n_weather}
    field_counts = {t: {f: counts[t] for f in fs} for t, fs in WEATHER_TYPES.items()}
    field_counts["data"]["rain"] = rain
    return {"rows": counts, "field_types": WEATHER_TYPES, "field_counts": field_counts}


def gen_weather(rng, out, n):
    """OpenWeather-style 3-level documents (city{coord{}}, data[] with
    temp{} and optional rain, data[].weather[]) in 4 NDJSON files."""
    paths = [os.path.join(out, "weather_%d.jsonl" % k) for k in range(NDJSON_FILES)]
    files = [open(p, "w") for p in paths]
    tot_data = tot_weather = tot_rain = 0
    try:
        for i in range(n):
            doc, d, w, r = _weather_doc(rng, i)
            tot_data, tot_weather, tot_rain = tot_data + d, tot_weather + w, tot_rain + r
            files[i * NDJSON_FILES // n].write(json.dumps(doc, separators=(",", ":")) + "\n")
    finally:
        for f in files:
            f.close()
    m = _weather_manifest(n, tot_data, tot_weather, tot_rain)
    m["inputs"] = paths
    return m


class _Text:
    """Synthetic prose that passes the default Gopher rules and the C4 line
    scrub: alphabetic words of 4-12 letters, stopwords in every sentence,
    one sentence per line, each line ending in a period."""

    def __init__(self, rng):
        self.rng = rng
        vocab = set()
        while len(vocab) < 20000:
            w = _word(rng)
            if w not in STOPWORDS:
                vocab.add(w)
        self.vocab = sorted(vocab)

    def words(self, k):
        out = []
        for _ in range(k):
            out.append(self.rng.choice(STOPWORDS) if self.rng.random() < 0.25
                       else self.rng.choice(self.vocab))
        return out

    def sentence(self, lo=8, hi=14):
        ws = self.words(self.rng.randint(lo, hi))
        ws[1] = self.rng.choice(STOPWORDS)
        return " ".join(ws).capitalize() + "."

    def doc(self):
        return "\n".join(self.sentence() for _ in range(self.rng.randint(6, 9)))

    def one_token_edit(self, text):
        """Replace one vocabulary word: a 3-shingle Jaccard near 0.9."""
        lines = text.split("\n")
        li = self.rng.randrange(len(lines))
        ws = lines[li].rstrip(".").split(" ")
        wi = self.rng.randrange(2, len(ws))
        new = self.rng.choice(self.vocab)
        while new == ws[wi].lower():
            new = self.rng.choice(self.vocab)
        ws[wi] = new
        lines[li] = " ".join(ws) + "."
        return "\n".join(lines)


def gen_text(rng, out, n):
    """Flat text documents with planted, counted classes against a standing
    corpus and an eval set (see DESIGN.md, text_pipeline)."""
    t = _Text(rng)
    n_corpus = n // 2
    corpus = [("c%06d" % i, t.doc()) for i in range(n_corpus)]
    evals = [" ".join(t.words(rng.randint(20, 30))) for _ in range(max(8, n // 40))]

    sizes = {"lowq": n * 8 // 100, "exact": n * 8 // 100, "near": n * 8 // 100,
             "twin_pairs": n * 4 // 100, "contaminated": n * 5 // 100,
             "pii": n * 5 // 100, "junk": n * 10 // 100}
    docs = []  # (class, text, group)
    for _ in range(sizes["lowq"]):
        if rng.random() < 0.5:  # too short for minWords
            docs.append(("lowq", t.sentence(20, 30), None))
        else:  # symbol-heavy: '#' words push the symbol ratio over 0.1
            lines = t.doc().split("\n")
            docs.append(("lowq", "\n".join(
                " ".join(("#" + w) if rng.random() < 0.3 else w for w in l.split(" "))
                for l in lines), None))
    sources = rng.sample(range(n_corpus), sizes["exact"] + sizes["near"])
    for c in sources[:sizes["exact"]]:
        docs.append(("exact", corpus[c][1], None))
    for c in sources[sizes["exact"]:]:
        docs.append(("near", t.one_token_edit(corpus[c][1]), None))
    for p in range(sizes["twin_pairs"]):
        a = t.doc()
        docs.append(("twin", a, p))
        docs.append(("twin", t.one_token_edit(a), p))
    for _ in range(sizes["contaminated"]):
        ev = rng.choice(evals).split(" ")
        s = rng.randrange(0, len(ev) - 15 + 1)
        lines = t.doc().split("\n")
        lines.insert(rng.randrange(len(lines) + 1), " ".join(ev[s:s + 15]).capitalize() + ".")
        docs.append(("contaminated", "\n".join(lines), None))
    emails, ips = [], []
    for _ in range(sizes["pii"]):
        email = "%s.%s@%s.org" % (_word(rng), _word(rng), _word(rng))
        ip = "%d.%d.%d.%d" % tuple(rng.randint(1, 254) for _ in range(4))
        emails.append(email)
        ips.append(ip)
        lines = t.doc().split("\n")
        lines.insert(rng.randrange(len(lines) + 1),
                     "Please write to %s or reach the host at %s for the details." % (email, ip))
        docs.append(("pii", "\n".join(lines), None))
    for _ in range(sizes["junk"]):
        lines = t.doc().split("\n")
        lines.insert(rng.randrange(len(lines) + 1), "Click here to enable javascript in the browser.")
        lines.insert(rng.randrange(len(lines) + 1), "Home | About | Contact")
        docs.append(("junk", "\n".join(lines), None))
    while len(docs) < n:
        docs.append(("fresh", t.doc(), None))
    rng.shuffle(docs)

    ids = ["d%06d" % i for i in range(len(docs))]
    classes = {}
    twins = {}
    for i, (cls, _, grp) in zip(ids, docs):
        classes.setdefault(cls, []).append(i)
        if grp is not None:
            twins.setdefault(grp, []).append(i)
    paths = [os.path.join(out, "docs_%d.jsonl" % k) for k in range(NDJSON_FILES)]
    files = [open(p, "w") for p in paths]
    try:
        for k, (i, (_, text, _)) in enumerate(zip(ids, docs)):
            files[k * NDJSON_FILES // len(docs)].write(
                json.dumps({"id": i, "text": text}, separators=(",", ":")) + "\n")
    finally:
        for f in files:
            f.close()
    corpus_path = os.path.join(out, "corpus.jsonl")
    with open(corpus_path, "w") as f:
        for i, text in corpus:
            f.write(json.dumps({"id": i, "text": text}, separators=(",", ":")) + "\n")
    eval_path = os.path.join(out, "eval.txt")
    with open(eval_path, "w") as f:
        f.write("\n".join(evals) + "\n")
    return {"inputs": paths, "corpus_jsonl": corpus_path, "eval": eval_path,
            "rows": {"main": len(docs)}, "classes": classes,
            "twin_pairs": sorted(twins.values()), "emails": emails, "ips": ips}


def generate(workload, seed, scale, out):
    """Write `workload`'s inputs for `seed` under `out`; return the manifest."""
    rng = random.Random("%s:%d" % (workload, seed))
    n = max(40, int(BASE_DOCS[workload] * scale))
    os.makedirs(out, exist_ok=True)
    if workload == "text_pipeline":
        m = gen_text(rng, out, n)
    else:
        m = gen_weather(rng, out, n)
    m["workload"] = workload
    m["seed"] = seed
    m["docs"] = n
    m["input_bytes"] = sum(os.path.getsize(p) for p in m["inputs"])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f)
    return m
