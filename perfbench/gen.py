"""Seeded input generators and ground truth for the three workloads.

Every input a measured JVM reads is written here, before that JVM
starts. The same seed gives byte-identical files; nothing depends on
the clock, the host or hash randomisation.

    python3 perfbench/gen.py --workload etl211 --seed 7 --out DIR
"""
import argparse
import bisect
import json
import math
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# ---------------------------------------------------------------- etl211

# The traffic below is an assumption, not a measurement: no published
# figure for 2-1-1 extract volume, malformed share or category skew was
# at hand when it was chosen. What it does fix is the shape of the job:
# a small hourly increment (about 1.2k rows), so an extract's time is
# per-job and per-commit overhead, not CSV parse or clean throughput;
# every cleaning rule, quarantine branch and latest-wins case occurs in
# every extract. Replace these numbers with measured ones when known.
ETL = dict(
    batches=16,          # hourly extracts; a run that uses them all restarts the stores
    new_per_batch=900,   # fresh service requests per extract
    upd_per_batch=200,   # updates of requests first seen in an earlier extract
    dup_per_batch=100,   # second record of a request inside the same extract
    bad_per_batch=30,    # malformed rows (unparseable id or timestamp)
    lookback_days=7,     # a request's timestamp trails its extract hour by up to this
    n_codes=40,          # category codes, Zipf(1.1)-ranked
    n_taxonomy=32,       # codes the taxonomy knows; the rest roll up as UNKNOWN
    zipf_s=1.1,
)
BASE_HOUR = datetime(2024, 2, 27, tzinfo=timezone.utc)
PREFIXES = ["BH", "BD", "BM", "BR", "BT"]
GROUPS = ["HOUSING", "FOOD", "HEALTH", "UTILITIES", "LEGAL", "TRANSPORT"]
OUTCOMES = ["referred", "resolved", "pending", "na"]
ZIPS = ["152%02d" % i for i in range(1, 41)] + ["0%04d" % (2100 + i) for i in range(10)]
QS = [0.5, 0.9, 0.99]


def _code(i):
    return "%s %02d" % (PREFIXES[i % len(PREFIXES)], i + 1)


def _noisy_code(rng, code):
    r = rng.random()
    if r < 0.15:
        code = code.lower()
    if rng.random() < 0.2:
        code = code.replace(" ", "   ")
    if rng.random() < 0.2:
        code = "  " + code + " "
    return code


def _noisy_zip(rng, z):
    r = rng.random()
    if r < 0.05:
        return ""
    if z.startswith("0") and rng.random() < 0.5:
        z = z[1:]  # leading zero lost upstream; lpad restores it
    if rng.random() < 0.15:
        z = " " + z + "  "
    return z


def _noisy_outcome(rng, o):
    r = rng.random()
    if o == "na" and r < 0.3:
        return ""
    if r < 0.3:
        o = o.upper()
    elif r < 0.5:
        o = o.capitalize()
    if rng.random() < 0.2:
        o = " " + o + " "
    return o


def _clean_zip(z):
    """The pipeline's ZIP rule: an empty field is NULL, else trim and
    left-pad (or cut) to five characters."""
    return None if z == "" else z.strip(" ").rjust(5, "0")[:5]


def _iso(dt):
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def _zipf_cdf(n, s):
    w = [1.0 / (i + 1) ** s for i in range(n)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


def _value(rng):
    return round(math.exp(rng.gauss(3.0, 0.8)), 2)


def gen_etl211(seed, out):
    p = ETL
    rng = random.Random(seed)
    cdf = _zipf_cdf(p["n_codes"], p["zipf_s"])
    # which codes the taxonomy covers: the seed shuffles them, so some
    # frequent codes can be unknown on one seed and known on another
    codes = [_code(i) for i in range(p["n_codes"])]
    order = list(range(p["n_codes"]))
    rng.shuffle(order)
    taxonomy = {codes[i]: GROUPS[j % len(GROUPS)] for j, i in enumerate(order[: p["n_taxonomy"]])}
    with open(os.path.join(out, "taxonomy.csv"), "w") as f:
        f.write("category_code,category_group\n")
        for c in sorted(taxonomy):
            f.write("%s,%s\n" % (c, taxonomy[c]))

    next_id = 100000
    next_event = 1
    seen = []            # request ids from earlier extracts
    last_ts = {}         # request id -> latest ts seen so far (seconds)
    store = {}           # (user_id, event_type) -> (ts, event_id, value): the upserted snapshot
    day_values = []      # (day, value) of every stored row, all batches so far
    day_users = []       # (day, user_id)
    batches, serves = [], []
    for k in range(p["batches"]):
        hour = BASE_HOUR + timedelta(hours=k)
        h0 = int(hour.timestamp())
        recs = []  # (request_id, ts, zip, code, outcome) as clean truth + raw strings

        def fresh_ts():
            return h0 - rng.randrange(0, p["lookback_days"] * 86400)

        for _ in range(p["new_per_batch"]):
            rid = next_id
            next_id += 1
            recs.append([rid, fresh_ts()])
        for _ in range(p["upd_per_batch"] if seen else 0):
            rid = seen[rng.randrange(len(seen))]
            recs.append([rid, max(h0 + rng.randrange(0, 3600), last_ts[rid] + 1)])
        for _ in range(p["dup_per_batch"]):
            base = recs[rng.randrange(len(recs))]
            recs.append([base[0], None])
        # give duplicates a distinct timestamp, earlier or later than
        # their twin, so latest-wins never sees a tie
        taken = {}
        for r in recs:
            if r[1] is not None:
                taken.setdefault(r[0], set()).add(r[1])
        for r in recs:
            if r[1] is None:
                ts_set = taken[r[0]]
                t = max(ts_set) + rng.choice([-1, 1]) * rng.randrange(1, 3600)
                while t in ts_set:
                    t += 1
                ts_set.add(t)
                r[1] = t
        for r in recs:
            u = rng.random()
            ci = bisect.bisect_left(cdf, u)
            r += [rng.choice(ZIPS), codes[min(ci, len(codes) - 1)], rng.choice(OUTCOMES)]
        rng.shuffle(recs)

        lines, good = [], []
        for rid, ts, z, code, outcome in recs:
            raw = (str(rid), _iso(datetime.fromtimestamp(ts, timezone.utc)),
                   _noisy_zip(rng, z), _noisy_code(rng, code), _noisy_outcome(rng, outcome))
            lines.append(",".join(raw))
            good.append((rid, ts, raw))
        n_bad = p["bad_per_batch"]
        for i in range(n_bad):
            rid = next_id + 10 ** 6 + i
            if i % 2 == 0:
                bad = ("R-%d" % rid, _iso(hour), "15213", codes[0], "referred")
            else:
                bad = (str(rid), "2024-02-30T25:61:00Z", "15213", codes[0], "referred")
            lines.insert(rng.randrange(len(lines) + 1), ",".join(bad))
        with open(os.path.join(out, "extract_%03d.csv" % k), "w") as f:
            f.write("request_id,ts,zip,category_code,outcome\n")
            f.write("\n".join(lines) + "\n")

        # --- ground truth of the extract: latest record per request id
        latest = {}
        for rid, ts, raw in good:
            if rid not in latest or ts > latest[rid][0]:
                latest[rid] = (ts, raw)
        roll = {}
        for rid, (ts, raw) in latest.items():
            month = datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-01T00:00:00.000Z")
            code = " ".join(raw[3].strip(" ").split()).upper()
            group = taxonomy.get(code, "UNKNOWN")
            outcome = raw[4].strip(" ").lower() or None
            outcome = None if outcome in (None, "na") else outcome
            zc = _clean_zip(raw[2])
            cell = roll.setdefault((month, group, outcome or ""), [0, set()])
            cell[0] += 1
            if zc is not None:
                cell[1].add(zc)
        rollup = sorted([m, g, o, n, len(zs)] for (m, g, o), (n, zs) in roll.items())

        # --- the same requests in the stores' (event_id, ts, user_id,
        #     event_type, value) shape; event_type is the taxonomy group
        ev = []
        for rid, ts, raw in good:
            code = " ".join(raw[3].strip(" ").split()).upper()
            ev.append((next_event, ts, rid, taxonomy.get(code, "UNKNOWN"), _value(rng)))
            next_event += 1
        table = pa.table({
            "event_id": pa.array([e[0] for e in ev], pa.int64()),
            "ts": pa.array([e[1] * 1_000_000 for e in ev], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([e[2] for e in ev], pa.int64()),
            "event_type": pa.array([e[3] for e in ev], pa.string()),
            "value": pa.array([e[4] for e in ev], pa.float64()),
        })
        pq.write_table(table, os.path.join(out, "events_%03d.parquet" % k),
                       compression="snappy", write_statistics=False)
        with open(os.path.join(out, "values_%03d.tsv" % k), "w") as f:
            for e in ev:
                f.write("%s\t%r\n" % (datetime.fromtimestamp(e[1], timezone.utc).date(), e[4]))
        for e in ev:
            key = (e[2], e[3])
            if key not in store or (e[1], e[0]) > store[key][:2]:
                store[key] = (e[1], e[0], e[4])
            day = str(datetime.fromtimestamp(e[1], timezone.utc).date())
            day_values.append((day, e[4]))
            day_users.append((day, e[2]))
        for rid, ts, _ in good:
            last_ts[rid] = max(last_ts.get(rid, ts), ts)
        seen = sorted(set(seen) | set(r for r, _, _ in good))

        by_type = {}
        for (uid, et), (ts, eid, val) in store.items():
            c = by_type.setdefault(et, [0, 0.0])
            c[0] += 1
            c[1] += val
        days = sorted(set(d for d, _ in day_values))
        d1, d2 = sorted(rng.sample(days, 2)) if len(days) > 1 else (days[0], days[0])
        n_q = sum(1 for d, _ in day_values if d1 <= d <= d2)
        e1, e2 = sorted(rng.sample(days, 2)) if len(days) > 1 else (days[0], days[0])
        distinct = len(set(u for d, u in day_users if e1 <= d <= e2))
        n_valid = len(good)
        batches.append(dict(
            extract="extract_%03d.csv" % k, events="events_%03d.parquet" % k,
            values="values_%03d.tsv" % k,
            rows_read=n_valid + n_bad, rows_quarantined=n_bad,
            rows_superseded=n_valid - len(latest), rollup=rollup))
        serves.append(dict(
            quantile=dict(from_day=d1, to_day=d2, qs=QS, n=n_q),
            distinct=dict(from_day=e1, to_day=e2, exact=distinct),
            snapshot={et: dict(n=c[0], sum=round(c[1], 6)) for et, c in sorted(by_type.items())}))
    truth = dict(workload="etl211", seed=seed, params=p, batches=batches, serves=serves)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=0)


# -------------------------------------------------------------- curation

CUR = dict(
    docs=700,           # sampled from the fixed sf0.1 documents table
    exact_share=0.08,   # planted exact duplicates (case/whitespace variants)
    near_share=0.08,    # planted near duplicates (one or two words changed)
    setup_seed=0,       # the set-up corpus is the same for every run seed;
                        # its ledger is stored in expected/curation_setup_ledger.json
)


def _vary_exact(rng, text):
    words = text.split()
    sep = "  " if rng.random() < 0.5 else " "
    out = sep.join(words)
    if rng.random() < 0.5:
        out = out.upper() if rng.random() < 0.3 else out.capitalize()
    return (" " if rng.random() < 0.3 else "") + out


def _vary_near(rng, text, vocab):
    words = text.split()
    for _ in range(1 + (rng.random() < 0.5)):
        i = rng.randrange(len(words))
        words[i] = rng.choice(vocab)
    return " ".join(words)


def _corpus(rng, base, n):
    vocab = sorted(set(w for r in base for w in r["text"].split()))
    picked = rng.sample(base, n)
    n_exact = int(n * CUR["exact_share"])
    n_near = int(n * CUR["near_share"])
    docs = [dict(r) for r in picked]
    for _ in range(n_exact):
        src = rng.choice(picked)
        docs.append(dict(src, text=_vary_exact(rng, src["text"])))
    for _ in range(n_near):
        src = rng.choice(picked)
        docs.append(dict(src, text=_vary_near(rng, src["text"], vocab)))
    rng.shuffle(docs)
    for i, d in enumerate(docs):
        d["doc_id"] = i + 1
    return docs


def _write_docs(docs, path):
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"),
                   compression="snappy", write_statistics=False)


def _raw(docs):
    """(documents, whitespace tokens) of stage 0: non-blank texts."""
    raw = [d for d in docs if d["text"].strip(" ") != ""]
    return len(raw), sum(len(d["text"].strip(" ").split()) for d in raw)


def gen_curation(seed, out):
    base = pq.read_table(os.path.join(HERE, "data", "documents_sf0.1.parquet")).to_pylist()
    base.sort(key=lambda r: r["doc_id"])
    docs = _corpus(random.Random(seed), base, CUR["docs"])
    _write_docs(docs, os.path.join(out, "corpus"))
    setup = _corpus(random.Random(CUR["setup_seed"]), base, CUR["docs"])
    _write_docs(setup, os.path.join(out, "setup"))
    raw_docs, raw_tokens = _raw(docs)
    truth = dict(workload="curation", seed=seed, params=CUR, raw_docs=raw_docs,
                 raw_tokens=raw_tokens, setup_raw_docs=_raw(setup)[0])
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=0)


# ------------------------------------------------------------- analytics

PASSES = 40  # more key orders than any run completes


def analytics_keys():
    with open(os.path.join(HERE, "analytics_keys.txt")) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


def gen_analytics(seed, out):
    keys = analytics_keys()
    orders = []
    for p in range(PASSES):
        ks = list(keys)
        random.Random(seed * 1009 + p).shuffle(ks)
        orders.append(ks)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(dict(workload="analytics", seed=seed, orders=orders), f, indent=0)


GENERATORS = dict(etl211=gen_etl211, curation=gen_curation, analytics=gen_analytics)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
