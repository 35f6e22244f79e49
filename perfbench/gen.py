"""Seeded input generator for the benchmark, with the expected truth.

Writes, for one seed, the inputs of a workload and a ``truth.json`` that
states what the program must produce from them.  The truth is computed
here, from the generated rows, by the rules of the reference job (split
on tab, drop malformed rows, cut visits at a gap of 1800 s or more); it
never calls the program under test, which only receives the files.

    python3 perfbench/gen.py feed_export 7 out/dir
    python3 perfbench/gen.py gate_mix 7 out/dir

Row hashes are the first eight bytes of MD5 over the fields joined by
``\\x1f`` (UTF-8), read little-endian and summed modulo 2**64, so equal
rows add up instead of cancelling.
"""

import gzip
import hashlib
import json
import os
import sys

import numpy as np

GAP_S = 1800
T0 = 1_700_000_000  # 2023-11-14 22:13:20 UTC, start of the first hourly file
HOURS = 8

# event code -> exported flag column, in hits.csv order
FLAG_CODES = [("pdp_view", "2"), ("atb", "12"), ("bag_view", "14"),
              ("checkout", "11"), ("payment", "204"), ("order", "1")]
EVENT_CODES = ["1", "2", "11", "12", "13", "14", "204", "100", "201"]

# Latin-1 page words: every one round-trips through ISO-8859-1 and most
# carry a byte above 0x7f, so a wrong charset shows in the exports
PAGE_WORDS = ["café", "über", "straße", "niño", "señor", "crème", "brûlée",
              "façade", "naïve", "smörgåsbord", "ærø", "øl", "déjà",
              "piñata", "jalapeño", "zürich", "málaga", "québec", "são",
              "göteborg", "home", "cart", "search", "sale"]
SITES = ["www.shop.example", "m.shop.example", "checkout.shop.example"]
TRACKING = ["", "", "em:news:1201", "ps:google:brand", "aff:partner:9",
            "sc:social:spring"]
DROP_REASONS = ["short_row", "bad_ts", "bad_product"]


def row_hash(fields):
    """64-bit row hash (see module doc)."""
    d = hashlib.md5("\x1f".join(fields).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "little")


def visit_starts(users, ts, gap=GAP_S):
    """Per-hit visit start for hits sorted by (user, ts): a new visit
    starts at a user's first hit and wherever the gap to the previous hit
    is ``gap`` seconds or more (the end-exclusive boundary)."""
    users = np.asarray(users)
    ts = np.asarray(ts, dtype=np.int64)
    brk = np.ones(len(ts), dtype=bool)
    if len(ts) > 1:
        brk[1:] = (users[1:] != users[:-1]) | (ts[1:] - ts[:-1] >= gap)
    idx = np.where(brk, np.arange(len(ts)), 0)
    np.maximum.accumulate(idx, out=idx)
    return ts[idx], brk


def visit_truth(users, ts, gap=GAP_S):
    """(visits, sum visit_start, sum visit_end, per-hit visit_start) for
    hits sorted by (user, ts)."""
    ts = np.asarray(ts, dtype=np.int64)
    starts, brk = visit_starts(users, ts, gap)
    first = np.flatnonzero(brk)
    last = np.append(first[1:] - 1, len(ts) - 1) if len(first) else first
    return (int(len(first)), int(ts[first].sum()), int(ts[last].sum()),
            starts)


def _user_timelines(rng, n_users, mean_hits, span_s):
    """Per-user strictly increasing timestamps with planted 1800 s and
    1799 s gaps.  Returns (user index per hit, ts per hit), sorted by
    (user, ts)."""
    k = rng.geometric(1.0 / mean_hits, n_users)
    users = np.repeat(np.arange(n_users), k)
    kind = rng.choice(4, size=len(users), p=[0.86, 0.08, 0.03, 0.03])
    gaps = np.where(kind == 0, rng.integers(1, 900, len(users)),
           np.where(kind == 1, rng.integers(1801, 5400, len(users)),
           np.where(kind == 2, GAP_S, GAP_S - 1)))
    first = np.r_[0, np.cumsum(k)[:-1]]
    gaps[first] = 0
    start = T0 + rng.integers(0, span_s, n_users)
    ts = np.repeat(start, k) + _segment_cumsum(gaps, first)
    return users, ts.astype(np.int64)


def _segment_cumsum(values, first):
    c = np.cumsum(values)
    base = np.repeat(c[first] - values[first], np.diff(np.r_[first, len(values)]))
    return c - base


def feed_export(seed, out, n_users=12_000, mean_hits=8, malformed=0.005):
    """Gzipped ISO-8859-1 hourly TSV feed + truth of the three exports."""
    rng = np.random.default_rng([seed, 1])
    # visits start in the first six hours, so the hits spill over the
    # eight hourly files about evenly (no straggler file)
    users, ts = _user_timelines(rng, n_users, mean_hits, (HOURS - 2) * 3600)
    n = len(ts)
    hi = rng.integers(10**9, 10**10, n_users)
    uid = [f"{hi[u]}_{u}" for u in range(n_users)]
    ibm = [("" if u % 7 == 0 else f"ibm{u * 31 % 99991}") for u in range(n_users)]
    scv = [f"scv{u}" for u in range(n_users)]
    has_prod = rng.random(n) < 0.4
    sku = rng.integers(10000, 99999, n)
    ev_mask = rng.random((n, len(EVENT_CODES))) < 0.25
    w1 = rng.integers(0, len(PAGE_WORDS), n)
    w2 = rng.integers(0, len(PAGE_WORDS), n)
    pnum = rng.integers(1, 500, n)
    site = rng.integers(0, len(SITES), n)
    trk = rng.integers(0, len(TRACKING), n)

    n_visits, s_start, s_end, starts = visit_truth(users, ts)
    lines, hit_h, vis_h, vtr_h = [], 0, 0, 0
    flag_idx = [EVENT_CODES.index(c) for _, c in FLAG_CODES]
    for i in range(n):
        u = users[i]
        events = [EVENT_CODES[j] for j in np.flatnonzero(ev_mask[i])]
        prod = f"apparel;{sku[i]};1;19.99" if has_prod[i] else ""
        page = f"/{PAGE_WORDS[w1[i]]}/{PAGE_WORDS[w2[i]]}-{pnum[i]}"
        hi_s, lo_s = uid[u].split("_")
        lines.append("\t".join([
            str(ts[i]), hi_s, lo_s, TRACKING[trk[i]], prod, ",".join(events),
            page, SITES[site[i]], ibm[u], scv[u], "Mozilla/5.0"]))
        vkey = f"{uid[u]}_{starts[i]}"
        flags = ["1" if ev_mask[i, j] else "0" for j in flag_idx]
        hit_h += row_hash([vkey, str(ts[i]), SITES[site[i]], TRACKING[trk[i]],
                           page, str(sku[i]) if has_prod[i] else ""] + flags)
        vtr_h += row_hash([uid[u], ibm[u], scv[u]])
        if i == n - 1 or users[i + 1] != u or ts[i + 1] - ts[i] >= GAP_S:
            vis_h += row_hash([vkey, uid[u], str(starts[i]), str(ts[i])])

    # malformed rows, one defect each, counted per reason
    hours = list(((ts - T0) // 3600).clip(0, HOURS - 1))
    drops = {r: int(round(n * malformed)) for r in DROP_REASONS}
    for reason, cnt in drops.items():
        for j in range(cnt):
            t = int(T0 + rng.integers(0, HOURS * 3600))
            f = [str(t), "999", str(j), "", "", "2", "/bad/é", SITES[0],
                 "", "scv", "x"]
            if reason == "short_row":
                f = f[:6]
            elif reason == "bad_ts":
                f[0] = ["", "12ab", "-5", "1.5e9"][j % 4]
            else:
                f[4] = f"nosemicolon{j}"
            lines.append("\t".join(f))
            hours.append((t - T0) // 3600)

    order = rng.permutation(len(lines))
    os.makedirs(out, exist_ok=True)
    buckets = [[] for _ in range(HOURS)]
    for i in order:
        buckets[hours[i]].append(lines[i])
    for h, rows in enumerate(buckets):
        data = ("\n".join(rows) + "\n").encode("iso-8859-1")
        with open(os.path.join(out, f"hits-{h:02d}.tsv.gz"), "wb") as fh:
            fh.write(gzip.compress(data, compresslevel=6, mtime=0))
    m = 2**64
    return {
        "workload": "feed_export", "seed": seed, "gap_s": GAP_S,
        "input_rows": len(lines), "parsed_rows": n, "dropped": drops,
        "visits": n_visits, "visit_start_sum": s_start, "visit_end_sum": s_end,
        "exports": {
            "hits": {"rows": n, "hash": hit_h % m},
            "visits": {"rows": n_visits, "hash": vis_h % m},
            "visitors": {"rows": n, "hash": vtr_h % m},
        },
    }


DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "table", "data", "agg", "value", "key", "stream", "window", "a",
             "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def gate_mix(seed, out, n_events=10_000, n_users=150, n_docs=500):
    """events / documents parquet tables with the schemas the gates read,
    sized so a pass is dominated by per-query overhead."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)) \
        + 1_704_067_200 * 10**6  # 2024-01-01 UTC, µs
    types = np.array(["view", "click", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(types[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    langs = np.array(["en"] * 4 + ["zh", "es", "de", "fr"])
    texts = []
    for i in range(n_docs):
        if i % 25 == 24:  # planted near-duplicates
            texts.append(texts[i - 7] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), k)]))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    for name, t in [("events", events), ("documents", documents)]:
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {"workload": "gate_mix", "seed": seed, "events": n_events,
            "documents": n_docs}


GENERATORS = {"feed_export": feed_export, "gate_mix": gate_mix}


def generate(workload, seed, out, **sizes):
    truth = GENERATORS[workload](seed, out, **sizes)
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
