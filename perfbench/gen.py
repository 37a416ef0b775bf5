"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones
(test_gen.py checks both). The program under test only ever sees the
files written here.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---- events-scan -----------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_ROWS = 150_000
EVENTS_USERS = 20_000
# Zipf exponent of per-user activity: the top user holds ~3% of all
# rows while the median user has a few dozen, so per-user windows and
# user-keyed aggregations see both hot keys and a long sparse tail.
EVENTS_SKEW = 0.8
JAN_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
MONTH_US = 31 * 86_400 * 1_000_000


def _write(table, path, row_group_size):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=row_group_size)


def gen_events(seed, out_dir, rows=EVENTS_ROWS):
    """events.parquet with the testdata schema over January 2024."""
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, EVENTS_USERS + 1) ** EVENTS_SKEW
    weights /= weights.sum()
    rank = rng.choice(EVENTS_USERS, size=rows, p=weights)
    # which ids are the hot ones is fixed, so every seed puts the same
    # load on each shuffle partition and only the events themselves vary
    user_of_rank = np.random.default_rng(0).permutation(EVENTS_USERS).astype(np.int64)
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, size=rows))
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user_of_rank[rank]),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), size=rows)], type=pa.string()),
        "value": pa.array(np.round(rng.exponential(5000.0, size=rows)) / 100.0),
        "props": pc.binary_join_element_wise(
            "{\"k\": ", pc.cast(pa.array(rng.integers(0, 100, size=rows)), pa.string()),
            "}", ""),
    })
    _write(table, os.path.join(out_dir, "events.parquet"), rows // 16)
    return rows


# ---- corpus-ingest ---------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
CORPUS_DOCS = 1000
BATCH_DOCS = 250
MAX_BATCHES = 48


def gen_documents(seed, out_dir):
    """documents.parquet shaped like the testdata corpus (30-word
    vocabulary, 10-100 words, 5% near-duplicates carrying a " dup"
    suffix, 0.3% exact duplicates and 8% docs quoting a 12-word span,
    copies always taken from an earlier doc). Returns the corpus/batch cut: doc ids below it
    form the bootstrap corpus, the rest arrive in ascending batches of
    BATCH_DOCS."""
    rng = np.random.default_rng([seed, 2])
    cut = CORPUS_DOCS + int(rng.integers(-50, 51))
    n = cut + BATCH_DOCS * MAX_BATCHES
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.133:
            # a fresh doc quoting a 12-word span of an earlier one: not a
            # near-duplicate, but verbatim 8-gram overlap, so the split
            # decontamination has leaks to find
            src = texts[int(rng.integers(0, i))].split()
            at = int(rng.integers(0, max(1, len(src) - 12)))
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(30, 101)))
            fresh = [VOCAB[w] for w in words]
            texts.append(" ".join(fresh[:15] + src[at:at + 12] + fresh[15:]))
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), size=n, p=LANG_P)], type=pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, size=n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(table, os.path.join(out_dir, "documents.parquet"), 1024)
    with open(os.path.join(out_dir, "cut.json"), "w") as f:
        json.dump({"cut": cut, "batch_docs": BATCH_DOCS, "max_batches": MAX_BATCHES}, f)
    return cut


# ---- health-daily ----------------------------------------------------------

SOURCES = ["sleep", "activity", "readiness", "heartrate"]
LONG_TENANTS = 3
NEW_TENANTS = 6
HISTORY_START = dt.date(2023, 1, 1)
HISTORY_DAYS = 365           # landed as one-day windows before the run
CATCHUP_DAYS = 90            # source days available past the history
MISSING_FRAC = 0.05


def _day(i):
    return (HISTORY_START + dt.timedelta(days=i)).isoformat()


def gen_health(seed, out_dir):
    """Per-tenant source rows (tenant, source, day, n, total) with ~5%
    of source-days missing, plus what a year of daily runs left behind
    for every long-lived tenant: the landed raw zone, one
    `{source}/{d}_{d}/` directory per history day committed with
    `_SUCCESS` (missing days land empty, as an empty API response
    does), and the day-partitioned warehouse."""
    rng = np.random.default_rng([seed, 3])
    n_days = HISTORY_DAYS + CATCHUP_DAYS
    tenants = [f"long{i}" for i in range(LONG_TENANTS)] + [f"new{i}" for i in range(NEW_TENANTS)]
    cols = {"tenant": [], "source": [], "day": [], "n": [], "total": []}
    for t in tenants:
        for s in SOURCES:
            present = rng.random(n_days) >= MISSING_FRAC
            n = rng.integers(1, 2000, size=n_days)
            total = np.round(rng.exponential(300.0, size=n_days) * 100.0) / 100.0
            for i in np.nonzero(present)[0]:
                cols["tenant"].append(t)
                cols["source"].append(s)
                cols["day"].append(_day(int(i)))
                cols["n"].append(int(n[i]))
                cols["total"].append(float(total[i]))
    table = pa.table({
        "tenant": pa.array(cols["tenant"], type=pa.string()),
        "source": pa.array(cols["source"], type=pa.string()),
        "day": pa.array(cols["day"], type=pa.string()),
        "n": pa.array(cols["n"], type=pa.int64()),
        "total": pa.array(cols["total"], type=pa.float64()),
    })
    _write(table, os.path.join(out_dir, "sources.parquet"), 1 << 20)

    rows = {}
    for t, s, d, n, tot in zip(*(cols[k] for k in ("tenant", "source", "day", "n", "total"))):
        rows[(t, s, d)] = (n, tot)
    for t in tenants[:LONG_TENANTS]:
        for s in SOURCES:
            for i in range(HISTORY_DAYS):
                d = _day(i)
                wdir = os.path.join(out_dir, "zone", t, s, f"{d}_{d}")
                os.makedirs(wdir)
                if (t, s, d) in rows:
                    n, tot = rows[(t, s, d)]
                    with open(os.path.join(wdir, "part-00000.json"), "w") as f:
                        f.write(json.dumps({"day": d, "metric": {"n": n, "total": tot}}) + "\n")
                open(os.path.join(wdir, "_SUCCESS"), "w").close()
    # each long-lived tenant's warehouse as its daily runs left it: one
    # day partition per landed day, the layout Writer.appendByDay writes
    for t in tenants[:LONG_TENANTS]:
        days = sorted({d for (tt, _, d) in rows if tt == t and d <= _day(HISTORY_DAYS - 1)})
        wh = {"day": days}
        for s in SOURCES:
            wh[f"{s}__n"] = pa.array([rows.get((t, s, d), (None, None))[0] for d in days], pa.int64())
            wh[f"{s}__total"] = pa.array([rows.get((t, s, d), (None, None))[1] for d in days],
                                         pa.float64())
        pq.write_to_dataset(pa.table(wh), os.path.join(out_dir, "warehouse", t),
                            partition_cols=["day"], basename_template="part-{i}.parquet",
                            compression="snappy")
    meta = {"tenants": tenants, "long_tenants": tenants[:LONG_TENANTS],
            "sources": SOURCES, "history_start": _day(0),
            "history_end": _day(HISTORY_DAYS - 1), "last_source_day": _day(n_days - 1)}
    with open(os.path.join(out_dir, "health.json"), "w") as f:
        json.dump(meta, f)
    return meta


GENERATORS = {
    "health-daily": gen_health,
    "events-scan": gen_events,
    "corpus-ingest": gen_documents,
}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](seed, out_dir)
