"""Check one CLI output directory against the generator's manifest.

usage: verify.py MANIFEST OUT_DIR FACTS_JSON

FACTS_JSON holds what the benchmark harness read back from the run through
Spark's own readers: parquet row counts, the CLI's printed pipeline stage
counts and the kept pipeline rows.  Prints the failures and exits 1 if there
are any; exits 0 silently otherwise.
"""
import csv
import json
import math
import os
import re
import sys

# the redaction patterns of graft.ops.Redact (EmailRe, Ipv4Re)
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
IPV4 = re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b")
TEXT_STAGES = ["scrub_lines", "quality", "exact_dedup", "near_dup",
               "within_batch_near_dup", "decontaminate", "redact"]


def read_csv(path):
    csv.field_size_limit(1 << 30)
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def check_fields(m, out, errs):
    """fields.csv: every generated field present with its guessed type and
    its occurrence count (rain counts only the entries that carry it)."""
    header, rows = read_csv(os.path.join(out, "fields.csv"))
    col = {h: i for i, h in enumerate(header)}
    got = {(r[col["table_name"]], r[col["field_name"]]): r for r in rows}
    for t, fields in m["field_types"].items():
        for f, ty in fields.items():
            r = got.get((t, f))
            if r is None:
                errs.append("fields.csv lacks %s.%s" % (t, f))
                continue
            if r[col["field_type"]] != ty:
                errs.append("fields.csv %s.%s type %s != %s" % (t, f, r[col["field_type"]], ty))
            want = m["field_counts"][t][f]
            if int(r[col["count"]]) != want:
                errs.append("fields.csv %s.%s count %s != %d" % (t, f, r[col["count"]], want))


def check_forest(m, out, facts, errs):
    links = {}
    for t, want in m["rows"].items():
        header, rows = read_csv(os.path.join(out, "csv", t + ".csv"))
        if len(rows) != want:
            errs.append("csv %s: %d rows != %d" % (t, len(rows), want))
        cols = {h: i for i, h in enumerate(header)}
        links[t] = (cols, rows)
        if facts["parquet_rows"].get(t) != len(rows):
            errs.append("parquet %s: %s rows != csv %d" % (t, facts["parquet_rows"].get(t), len(rows)))
    keys = {t: {r[c["_link"]] for r in rows} for t, (c, rows) in links.items()}
    for t, (c, rows) in links.items():
        for fk in ("_link_main", "_link_data"):
            if fk in c:
                parent = keys[fk[len("_link_"):]]
                dangling = sum(1 for r in rows if r[c[fk]] not in parent)
                if dangling:
                    errs.append("csv %s.%s: %d values missing from the parent _link" % (t, fk, dangling))
    check_fields(m, out, errs)


def check_text(m, out, facts, errs):
    cls = {k: set(v) for k, v in m["classes"].items()}
    n = m["rows"]["main"]
    stages = facts["stage_counts"]
    if [s for s, _ in stages] != TEXT_STAGES:
        errs.append("pipeline stages %r != %r" % ([s for s, _ in stages], TEXT_STAGES))
        return
    c = dict(stages)
    near = len(cls.get("near", ()))
    expect = [("scrub_lines", n, 0), ("quality", c["scrub_lines"], len(cls.get("lowq", ()))),
              ("exact_dedup", c["quality"], len(cls.get("exact", ()))),
              ("within_batch_near_dup", c["near_dup"], len(m["twin_pairs"])),
              ("decontaminate", c["within_batch_near_dup"], len(cls.get("contaminated", ()))),
              ("redact", c["decontaminate"], 0)]
    for stage, before, dropped in expect:
        if before - c[stage] != dropped:
            errs.append("%s dropped %d, planted %d" % (stage, before - c[stage], dropped))
    nd = c["exact_dedup"] - c["near_dup"]
    if not (math.ceil(0.99 * near) <= nd <= near):
        errs.append("near_dup dropped %d of %d planted near copies" % (nd, near))
    kept = {i: t for i, t in facts["kept"]}
    if len(facts["kept"]) != c["redact"] or len(kept) != c["redact"]:
        errs.append("kept parquet holds %d rows, last stage count %d" % (len(facts["kept"]), c["redact"]))
    for k in ("fresh", "pii", "junk"):
        lost = cls.get(k, set()) - kept.keys()
        if lost:
            errs.append("%d %s documents dropped, e.g. %s" % (len(lost), k, sorted(lost)[:3]))
    for k in ("lowq", "exact", "contaminated"):
        if cls.get(k, set()) & kept.keys():
            errs.append("%s documents kept" % k)
    for pair in m["twin_pairs"]:
        if sum(1 for i in pair if i in kept) != 1:
            errs.append("twin pair %s: %d kept" % (pair, sum(1 for i in pair if i in kept)))
    leaks = [i for i, t in kept.items() if EMAIL.search(t) or IPV4.search(t)]
    if leaks:
        errs.append("%d kept documents still hold an email or IPv4, e.g. %s" % (len(leaks), leaks[:3]))
    _, rows = read_csv(os.path.join(out, "csv", "main.csv"))
    if len(rows) != n:
        errs.append("csv main: %d rows != %d" % (len(rows), n))


def verify(manifest, out, facts):
    errs = []
    w = manifest["workload"]
    if w == "ndjson_forest":
        check_forest(manifest, out, facts, errs)
    else:
        check_text(manifest, out, facts, errs)
    return errs


def main():
    with open(sys.argv[1]) as f:
        manifest = json.load(f)
    with open(sys.argv[3]) as f:
        facts = json.load(f)
    try:
        errs = verify(manifest, sys.argv[2], facts)
    except (OSError, ValueError, KeyError, IndexError) as e:
        errs = ["%s: %s" % (type(e).__name__, e)]
    for e in errs:
        print(e)
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
