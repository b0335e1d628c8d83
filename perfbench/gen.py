"""Seeded input generator for the perfbench workloads.

Every input the program reads is made here from the seed alone, so the
same seed gives byte-identical files and another seed gives other files.
The tables keep the testdata schema, its physical `ts` encoding
(timestamp[us], parquet format 2.6) and its value domains, so every op's
DuckDB oracle still applies to them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The testdata document vocabulary (30 words) plus the near-dup marker.
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
JAN_2024_US = 1704067200 * 1_000_000
DAY_MS = 86_400_000

# SignalK paths of the fleet archive: (path, angular, lo, hi, step).
# Angular paths are radians in [0, 2*pi).
FLEET_PATHS = [
    ("navigation.speedOverGround", False, 0.0, 9.0, 0.15),
    ("navigation.headingTrue", True, 0.0, 6.283, 0.08),
    ("environment.wind.speedApparent", False, 0.0, 20.0, 0.4),
    ("environment.wind.angleApparent", True, 0.0, 6.283, 0.12),
    ("environment.wind.directionTrue", True, 0.0, 6.283, 0.06),
    ("environment.depth.belowTransducer", False, 2.0, 80.0, 0.5),
    ("electrical.batteries.house.voltage", False, 11.8, 14.4, 0.01),
    ("propulsion.main.revolutions", False, 0.0, 60.0, 0.7),
]
VESSELS = 3
FLEET_DAYS = 3
SAMPLE_S = 60
LIVE_DAYS = 2  # newest days stay in the live store; older ones are archived


def write_table(table, path):
    pq.write_table(table, path, version="2.6", compression="snappy")


def events_table(rng, n, users):
    """`events` as the testdata has it: ids in order, ts uniform over
    January 2024 at microsecond precision, exponential values at cents."""
    ts = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n)) + JAN_2024_US
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def base_documents(rng, n):
    """Random vocabulary text of 10-99 tokens; about 5% of the documents
    are an earlier document with " dup" appended once or twice, the
    near-duplicate structure of the testdata."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
    return texts, langs


def documents_table(rng, n_base, copies):
    """Base documents plus `copies - 1` re-keyed copies whose every token
    carries a per-copy suffix, so near-dup structure stays within a copy
    and none is invented across copies (tools/make_scaled_corpus.py)."""
    texts, langs = base_documents(rng, n_base)
    ids, out_t, out_l, out_s = [], [], [], []
    for c in range(copies):
        for i, (t, l) in enumerate(zip(texts, langs)):
            ids.append(i + c * 1_000_000)
            out_t.append(t if c == 0 else " ".join(w + "_c%d" % c for w in t.split(" ")))
            out_l.append(l)
            out_s.append("src%d" % (i % 20))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_t),
        "lang": pa.array(out_l),
        "source": pa.array(out_s),
        "n_chars": pa.array([len(t) for t in out_t], pa.int64()),
    })


def embeddings_table(rng, n_base, copies, dim=64):
    """Unit-norm float32 vectors with labels 0-9; copy c is the base set
    re-keyed and cyclically rotated by c (norm-preserving)."""
    v = rng.standard_normal((n_base, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_base).astype(np.int32)
    vecs, ids, labs = [], [], []
    for c in range(copies):
        vecs.append(np.roll(v, -c, axis=1))
        ids.append(np.arange(n_base, dtype=np.int64) + c * 1_000_000)
        labs.append(labels)
    flat = np.concatenate(vecs)
    return pa.table({
        "vec_id": pa.array(np.concatenate(ids)),
        "embedding": pa.array(list(flat), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(labs)),
    })


def fleet(rng):
    """The fleet archive as SignalK deltas: every SAMPLE_S seconds each
    vessel sends one update carrying all its path values (bounded random
    walks, 4 decimals so DECIMAL(18,6) sums are exact in both engines).
    Returns (deltas table, raw rows table, meta)."""
    start_day = int(rng.integers(20, 300))  # day-of-year of the first day
    t0 = JAN_2024_US // 1000 + (start_day - 1) * DAY_MS
    steps = FLEET_DAYS * DAY_MS // (SAMPLE_S * 1000)
    contexts = ["vessels.urn:mrn:imo:mmsi:%d" % (230000000 + int(m))
                for m in rng.choice(99999, VESSELS, replace=False)]
    deltas, raw = [], {"context": [], "path": [], "ts_ms": [], "value": []}
    for vi, ctx in enumerate(contexts):
        offset = int(rng.integers(0, SAMPLE_S * 1000))
        ts = t0 + offset + np.arange(steps, dtype=np.int64) * SAMPLE_S * 1000
        series = []
        for _, angular, lo, hi, step in FLEET_PATHS:
            walk = np.cumsum(rng.normal(0.0, step, steps)) + rng.uniform(lo, hi)
            if angular:
                walk = np.mod(walk, 6.2831)
            else:  # reflect into [lo, hi]
                span = hi - lo
                walk = lo + np.abs(np.mod(walk - lo, 2 * span) - span)
            series.append(np.round(walk, 4))
        src = "n2k.%d" % (vi + 1)
        for i in range(steps):
            vals = [{"path": p[0], "value": float(s[i])} for p, s in zip(FLEET_PATHS, series)]
            deltas.append(json.dumps({"context": ctx, "updates": [
                {"timestamp": int(ts[i]), "$source": src, "values": vals}]},
                separators=(",", ":")))
        for p, s in zip(FLEET_PATHS, series):
            raw["context"].append(np.full(steps, ctx))
            raw["path"].append(np.full(steps, p[0]))
            raw["ts_ms"].append(ts)
            raw["value"].append(s)
    raw_t = pa.table({k: pa.array(np.concatenate(v)) for k, v in raw.items()})
    first_ms, last_ms = t0, t0 + FLEET_DAYS * DAY_MS
    meta = {"contexts": contexts, "first_ms": first_ms, "end_ms": last_ms,
            "start_day": start_day,
            "cutoff_day": "%03d" % (start_day + FLEET_DAYS - LIVE_DAYS),
            "angular": [p[0] for p in FLEET_PATHS if p[1]]}
    return pa.table({"delta": pa.array(deltas)}), raw_t, meta


def sanitize(s):
    """HiveStore.sanitize: the partition-dir form of a context or path."""
    return s.replace(".", "__").replace(":", "-")


def history_requests(rng, meta, n=4000):
    """The `/history/values` request stream. Its shapes (kind, spec count
    and methods, smoothing, range and resolution) are one fixed traffic
    mix for every seed, drawn in blocks of 20: one heavy full-range scan
    at fine resolution, five requests a tier can answer (average/min/max
    only), fourteen raw-shaped ones, about 30% of whose specs add sma or
    ema. The seed picks the vessel (the hot own vessel gets half), the
    paths and the time offsets."""
    shape = np.random.default_rng(20240101)
    paths = [sanitize(p[0]) for p in FLEET_PATHS]
    angular = {sanitize(p) for p in meta["angular"]}
    hot, others = meta["contexts"][0], meta["contexts"][1:]
    end = meta["end_ms"]
    reqs = []
    for b in range(n // 20):
        kinds = np.array(["heavy"] + ["tier"] * 5 + ["raw"] * 14)
        shape.shuffle(kinds)
        hot_mask = np.zeros(20, bool)
        hot_mask[rng.choice(20, 10, replace=False)] = True
        for k in range(20):
            ctx = hot if hot_mask[k] else others[int(rng.integers(0, len(others)))]
            specs = []
            n_specs = int(shape.integers(1, 5))
            for i, p in enumerate(rng.choice(len(paths), n_specs, replace=False)):
                if kinds[k] == "tier":
                    m = ["average", "min", "max"][int(shape.integers(0, 3))]
                    if paths[p] in angular and m == "average":
                        m = "max"
                    specs.append("%s:%s" % (paths[p], m))
                    continue
                # the first spec of a raw-shaped request is one no tier holds
                m = ["first", "last", "mid", "angular", "average", "min", "max"][
                    int(shape.integers(0, 4 if i == 0 else 7))]
                spec = "%s:%s" % (paths[p], m)
                if m in ("average", "min", "max") and shape.random() < 0.7:
                    spec += ":sma:5" if shape.random() < 0.5 else ":ema:0.3"
                specs.append(spec)
            # hour-aligned ends, so a tier answer covers exactly the range
            now = end - int(rng.integers(0, 4)) * 3_600_000
            if kinds[k] == "heavy":
                r = {"from": meta["first_ms"], "to": end, "duration": None, "resolution": 60_000}
            else:
                u = shape.random()
                if u < 0.70:  # the last few hours, served by the live store
                    r = {"from": None, "to": None, "duration": int(shape.integers(1, 7)) * 3_600_000,
                         "resolution": [60_000, 300_000][int(shape.integers(0, 2))]}
                elif u < 0.88:  # a day
                    r = {"from": None, "to": now, "duration": DAY_MS, "resolution": 900_000}
                else:  # the whole archive, hourly
                    r = {"from": meta["first_ms"], "to": None,
                         "duration": FLEET_DAYS * DAY_MS, "resolution": 3_600_000}
            reqs.append(dict(id=len(reqs), context=sanitize(ctx), specs=specs, now=now,
                             heavy=bool(kinds[k] == "heavy"), **r))
    return reqs


def generate(workload, seed, out, check_dir):
    """Write the inputs of `workload` into `out`, and what only the answer
    checks read (never the program) into `check_dir`; returns the input
    sizes."""
    rng = np.random.default_rng([seed, 7411])
    os.makedirs(out, exist_ok=True)
    if workload == "history_api":
        deltas, raw, meta = fleet(rng)
        write_table(deltas, os.path.join(out, "fleet_deltas.parquet"))
        os.makedirs(check_dir, exist_ok=True)
        write_table(raw, os.path.join(check_dir, "fleet_raw.parquet"))
        meta["sanitized"] = {sanitize(c): c for c in meta["contexts"]}
        meta["paths"] = {sanitize(p[0]): p[0] for p in FLEET_PATHS}
        with open(os.path.join(out, "fleet_meta.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        with open(os.path.join(out, "requests.jsonl"), "w") as f:
            for r in history_requests(rng, meta):
                f.write(json.dumps(r, sort_keys=True) + "\n")
    elif workload == "training_data":
        # sf0.01 sizes: events as sf0.01 has them, and a corpus of two
        # copies of a 250-document / 250-vector base set
        write_table(events_table(rng, 10_000, 150), os.path.join(out, "events.parquet"))
        write_table(documents_table(rng, 250, 2), os.path.join(out, "documents.parquet"))
        write_table(embeddings_table(rng, 250, 2), os.path.join(out, "embeddings.parquet"))
    else:
        raise ValueError("unknown workload %s" % workload)
    return sizes(out)


def sizes(out):
    """Rows, bytes and files of each generated input."""
    res = {}
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        entry = {"bytes": os.path.getsize(p)}
        if name.endswith(".parquet"):
            entry["rows"] = pq.ParquetFile(p).metadata.num_rows
        elif name.endswith(".jsonl"):
            with open(p) as f:
                entry["rows"] = sum(1 for _ in f)
        res[name] = entry
    return res
