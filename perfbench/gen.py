"""Seeded input generators for the three workloads.

Every generator is a pure function of (params, seed): the same seed writes
byte-identical parquet. The program under test only ever sees these files.
Inputs are cached per (workload, seed, params) under the build directory,
so a repeated run pays generation once and never inside its timings.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Generator parameters, one dict per workload. BENCHMARK.json's `why`
# lines and perfbench/README.md quote these numbers; change them together.
PARAMS = {
    "etl_daily": {
        "days": 3,              # measured days, each replayed afterwards
        # untimed days that land first: a day still speeds up by about 8%
        # a day over the first four days of a JVM as the JIT catches up
        "warmup_days": 3,
        # issues per day: a fixed count (a multiple of 3) keeps the pages and
        # distinct dates per day, which set the day's cost, equal across seeds
        "issues": 48,
        "payload_bytes": 8192,  # seeded bytes per page (the JP2 stand-in)
    },
    "curate_corpus": {
        "docs": 6000,
        "files": 8,
        "exact_dup_share": 0.04,  # docs whose text copies another doc
        "near_dup_share": 0.04,   # docs that copy another with one token changed
        "accent_share": 0.25,     # docs carrying accented words
        "low_quality_share": 0.1,  # docs built to fail the l6 gate
        "passes": 3,              # measured passes after one untimed warm-up pass
    },
    "stream_ingest": {
        "events_per_file": 20,
        # files per second for the low, mid and high phases
        "rates_files_per_s": [2, 4, 16],
        "phase_s": [6, 4, 1.5],
        "redeliver_share": 0.05,  # rows that repeat an earlier file's event
        "late_share": 0.05,       # rows whose event time lags by up to 60 s
        "watermark_s": 600,
        "max_files_per_trigger": 8,
    },
}

WORDS = ("the a of and in to data row table batch stream spark window "
         "merge join sort filter key query value order part line column "
         "scan hash group agg vector small big fast slow customer paper "
         "issue page title date archive library manifest image text news "
         "print press city harbour market weather ship train letter notice "
         "der die das und el la de y le les et un une").split()
ACCENTED = ("café naïve über señor façade crème jalapeño smörgåsbord "
            "résumé déjà élan garçon mañana fjärd søster").split()
LANGS = ["en", "de", "es", "fr", "sv", "zh"]
LANG_P = [0.4, 0.2, 0.15, 0.1, 0.1, 0.05]


def params_key(workload, seed, params):
    blob = json.dumps([workload, seed, params], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _docs_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _text(rng, n_tokens, accent=False):
    words = list(rng.choice(WORDS, size=n_tokens))
    if accent:
        for i in rng.choice(n_tokens, size=max(1, n_tokens // 15), replace=False):
            words[i] = rng.choice(ACCENTED)
    return " ".join(words)


def gen_etl(out, seed, p):
    """One `documents.parquet` plus one `payloads.parquet` per day.

    Day d owns doc ids [100000 + 1000 d, 100000 + 1000 (d + 1)), so the
    growing sink never sees a key twice except in the replays. About two
    thirds of the issues carry a manifest id (the extraction kernel's own
    doc_id % 3 rule), and every such issue expands to one page."""
    rng = np.random.default_rng([seed, 1])
    days = []
    for d in range(p["warmup_days"] + p["days"]):
        n = p["issues"]
        base = 100000 + 1000 * d
        ids = [base + i for i in range(n)]
        texts = [_text(rng, int(rng.integers(8, 24))) for _ in ids]
        langs = list(rng.choice(LANGS, size=n, p=LANG_P))
        sources = [f"src{int(s)}" for s in rng.integers(0, 20, size=n)]
        ddir = os.path.join(out, f"day{d:03d}")
        _write(_docs_table(ids, texts, langs, sources),
               os.path.join(ddir, "documents.parquet"))
        payload = rng.integers(0, 256, size=(n, p["payload_bytes"]),
                               dtype=np.uint8)
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "payload": pa.array([row.tobytes() for row in payload], pa.binary()),
        }), os.path.join(ddir, "payloads.parquet"))
        days.append(ddir)
    return {"days": days, "warmup_days": p["warmup_days"]}


def gen_curate(out, seed, p):
    """One corpus with planted exact duplicates, near duplicates (one
    token replaced), accented words and low-quality documents.

    Near duplicates get ids divisible by 5 on both sides, because the
    near-dedup step only probes that fifth of the corpus."""
    rng = np.random.default_rng([seed, 2])
    n = p["docs"]
    texts = []
    for _ in range(n):
        accent = rng.random() < p["accent_share"]
        texts.append(_text(rng, int(rng.integers(30, 160)), accent))
    langs = list(rng.choice(LANGS, size=n, p=LANG_P))
    sources = [f"src{int(s)}" for s in rng.integers(0, 20, size=n)]
    low = rng.random(n) < p["low_quality_share"]
    for i in np.nonzero(low)[0]:
        # short and repetitive: fails the length and uniqueness rules
        texts[i] = " ".join([str(rng.choice(WORDS))] * int(rng.integers(3, 12)))
    n_exact = int(n * p["exact_dup_share"])
    for dst in rng.choice(np.arange(1, n), size=n_exact, replace=False):
        texts[dst] = texts[int(rng.integers(0, dst))]
    fifths = np.arange(5, n, 5)
    n_near = int(n * p["near_dup_share"])
    for dst in rng.choice(fifths, size=min(n_near, len(fifths) // 2),
                          replace=False):
        src = int(rng.choice(fifths[fifths < dst])) if dst > 5 else 0
        words = texts[src].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[dst] = " ".join(words)
    # several files, so the scan splits across the session's cores
    table = _docs_table(list(range(n)), texts, langs, sources)
    step = -(-n // p["files"])
    for i in range(p["files"]):
        _write(table.slice(i * step, step),
               os.path.join(out, "corpus", "documents.parquet", f"part-{i:05d}.parquet"))
    # the untimed warm-up pass runs on the first file alone
    warm = os.path.join(out, "warmup", "documents.parquet")
    os.makedirs(warm)
    shutil.copy(os.path.join(out, "corpus", "documents.parquet", "part-00000.parquet"), warm)
    return {"corpus": os.path.join(out, "corpus"), "warmup": os.path.join(out, "warmup")}


def gen_stream(out, seed, p):
    """Pre-written event files, one pool per rate phase.

    Event time advances 1 s per fresh event. A `redeliver_share` of rows
    repeats an event from one of the previous three files verbatim, and a
    `late_share` of fresh events carries an event time up to 60 s behind,
    well inside the watermark, so no fresh event is ever dropped."""
    rng = np.random.default_rng([seed, 3])
    e = p["events_per_file"]
    types = np.array(["view", "click", "purchase", "signup", "error"])
    phases = []
    t0 = 1704067200_000000  # 2024-01-01T00:00:00Z in micros
    for ph, (rate, secs) in enumerate(zip(p["rates_files_per_s"], p["phase_s"])):
        pdir = os.path.join(out, f"phase{ph}")
        n_files = int(rate * secs)
        history = []
        next_id = (ph + 1) * 10_000_000
        for f in range(n_files):
            rows = []
            for _ in range(e):
                if history and rng.random() < p["redeliver_share"]:
                    back = history[-min(len(history), int(rng.integers(1, 4))):]
                    old = back[int(rng.integers(0, len(back)))]
                    rows.append(old[int(rng.integers(0, len(old)))])
                    continue
                ts = t0 + (next_id % 10_000_000) * 1_000_000
                if rng.random() < p["late_share"]:
                    ts -= int(rng.integers(1, 60)) * 1_000_000
                rows.append((next_id, ts, int(rng.integers(0, 500)),
                             str(rng.choice(types)),
                             round(float(rng.random() * 200), 2),
                             '{"k": %d}' % int(rng.integers(0, 100))))
                next_id += 1
            history.append(rows)
            cols = list(zip(*rows))
            _write(pa.table({
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }), os.path.join(pdir, f"part-{f:05d}.parquet"))
        phases.append({"dir": pdir, "files": n_files, "rate_files_per_s": rate,
                       "seconds": secs})
    # the stream's schema comes from the program's own events loader
    schema_dir = os.path.join(out, "schema")
    os.makedirs(schema_dir, exist_ok=True)
    shutil.copy(os.path.join(phases[0]["dir"], "part-00000.parquet"),
                os.path.join(schema_dir, "events.parquet"))
    return {"phases": phases, "schema_dir": schema_dir}


GENERATORS = {"etl_daily": gen_etl, "curate_corpus": gen_curate,
              "stream_ingest": gen_stream}


def inputs(cache_root, workload, seed, params):
    """Generate (or reuse) the inputs for one workload, seed and parameter
    set; returns the manifest the JVM side reads."""
    d = os.path.join(cache_root, f"{workload}-{seed}-{params_key(workload, seed, params)}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    m = GENERATORS[workload](tmp, seed, params)
    m = json.loads(json.dumps(m).replace(tmp, d))
    m.update(workload=workload, seed=seed, params=params)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return m
