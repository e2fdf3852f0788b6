"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* `write_tables` — the star schema plus `events`, `documents` and
  `embeddings`, with the shapes the repo's queries assume (30 days of
  January 2024 events, a 31-word document vocabulary with exact duplicates,
  unit-norm 64-d embeddings in 10 labels). One parquet file per table.
* `write_ingest` — raw Wikimedia recent-change batches in the producer's
  8-field projection, as gzip NDJSON, plus the ground truth the pipeline's
  outputs are checked against.

Every table gets a row count and a digest in `manifest.json`, which the run
checks before it starts the program.
"""
import datetime as dt
import gzip
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAY_US = 86_400_000_000

VOCAB = ("a the data query spark table scan filter join group agg sort order "
         "key value row column batch stream window hash merge part line "
         "customer vector fast slow big small").split()
P_ADJ = "blue old small new large hot cold red".split()
P_NOUN = "bolt plate rod anvil ring gear widget gizmo".split()


def _days_us(rng, lo, hi, n):
    """Random midnight timestamps (µs since epoch) in [lo, hi]."""
    a = (lo - dt.date(1970, 1, 1)).days
    b = (hi - dt.date(1970, 1, 1)).days
    return rng.integers(a, b + 1, n).astype(np.int64) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _col_bytes(arr):
    """Canonical bytes of an array's values and nulls, independent of how
    the array is chunked or buffered."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    valid = arr.is_null().to_numpy(zero_copy_only=False).tobytes()
    if pa.types.is_list(arr.type) or pa.types.is_string(arr.type):
        off = np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4)
        head = valid + (off - off[0]).tobytes()
        if pa.types.is_list(arr.type):
            return head + _col_bytes(arr.flatten())
        return head + arr.buffers()[2].to_pybytes()[off[0]:off[-1]]
    return valid + arr.to_numpy(zero_copy_only=False).tobytes()


def _type_tag(t):
    return f"list<{_type_tag(t.value_type)}>" if pa.types.is_list(t) else str(t)


def _digest(table):
    """Digest of a table's column names, types and content."""
    h = hashlib.sha256()
    for name, c in zip(table.column_names, table.columns):
        h.update(f"{name}:{_type_tag(c.type)};".encode())
        h.update(_col_bytes(c))
    return h.hexdigest()[:16]


def table_sizes(sf):
    """Row counts per table at scale factor `sf` (the dashboard uses 0.1,
    the self-check 0.001)."""
    s = sf
    return {
        "customer": max(150, int(150_000 * s)),
        "supplier": max(10, int(10_000 * s)),
        "part": max(200, int(200_000 * s)),
        "orders": max(1_500, int(1_500_000 * s)),
        "events": max(1_000, int(1_000_000 * s)),
        "documents": max(500, int(50_000 * s)),
        "embeddings": max(500, int(20_000 * s)),
    }


def make_tables(seed, sf):
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": pa.array(_days_us(rng, dt.date(1995, 1, 1),
                                         dt.date(2001, 8, 1), no) // 1000,
                                pa.timestamp("ms")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
                                         rng.integers(0, 5, no)]})
    # lineitem: 1..7 lines per order, line numbers unique within an order
    per = rng.integers(1, 8, no)
    ok = np.repeat(np.arange(no), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    ln = np.arange(len(ok)) - starts + 1
    order = rng.permutation(len(ok))      # stored unsorted, like the fixture
    ok, ln = ok[order], ln[order]
    nl = len(ok)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days_us(rng, dt.date(1995, 1, 2),
                                        dt.date(2001, 11, 4), nl) // 1000,
                               pa.timestamp("ms"))})
    ne = n["events"]
    # strictly increasing µs timestamps over 30 days (stored as ns, like
    # the fixture; µs granularity so every reader sees the same value)
    gaps = rng.integers(1, 2 * (30 * DAY_US // ne), ne)
    cum = np.cumsum(gaps).astype(np.float64)
    span = (cum - cum[0]) / max(1.0, cum[-1] - cum[0]) * (30 * DAY_US - 60_000_000 - 2 * ne)
    ts = EPOCH_2024 * 1_000_000 + rng.integers(0, 60_000_000) + span.astype(np.int64)
    ts = np.maximum.accumulate(ts - np.arange(ne)) + np.arange(ne)  # distinct
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    for i in rng.choice(np.arange(1, nd), max(2, nd // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]          # exact duplicates
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 6, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def write_tables(out_dir, seed, sf):
    """Write every table as `<out_dir>/<name>.parquet`; returns the manifest
    (rows and digest per table), also written to `manifest.json`."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, tab in make_tables(seed, sf).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        manifest[name] = {"rows": tab.num_rows, "digest": _digest(tab)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_tables(out_dir, manifest):
    """Re-read every written table and check rows and digest against the
    manifest the generator returned. Raises on any difference."""
    for name, want in manifest.items():
        tab = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
        got = {"rows": tab.num_rows, "digest": _digest(tab)}
        if got != want:
            raise RuntimeError(f"generated table {name} does not read back: "
                               f"{got} != {want}")


# ---------------------------------------------------------------- ingest

# Measured figures of the reference deployment (BASELINE.md) that shape the
# stream: its dashboards' edit skew and its consumer's flush settings.
REF_EDITS = 1_129_591           # edits ingested
REF_TOP1_EDITS = 22_724         # edits of the top title
REF_PAST_TOP25_EDITS = 941_690  # edits outside the top 25 titles
BATCH_LINES = 200               # consumer BATCH_SIZE (code default)
BATCH_SPAN_S = 10               # consumer FLUSH_SECS: event time per batch

# Assumed, because the reference publishes no figures for them. Every batch
# carries each fault kind, so every branch of curation, deduplication and
# late handling runs in every batch, while faults stay a few percent of the
# lines and the clean path dominates the cost.
MALFORMED, NULL_IDS, DUPLICATES, LATE = 1, 1, 4, 2   # lines per batch
LATE_DAYS = (1, 3)              # late events are dated 1 to 3 days back
BOT_NULL, BOT_TRUE = 0.1, 0.1   # shares of `bot` = null / true
MINOR_ABSENT = 0.1              # share of lines without `minor`

# Batch 4 straddles a UTC midnight.
INGEST_T0 = (int(dt.datetime(2024, 3, 10, tzinfo=dt.timezone.utc).timestamp())
             - 4 * BATCH_SPAN_S - BATCH_SPAN_S // 2)
TOP_EDITORS = 10


def fit_zipf(top1, top25):
    """(s, n) of the Zipf law p(k) ~ k^-s over n ranks whose top rank holds
    the share `top1` and whose top 25 ranks hold `top25`."""
    lo, hi = 0.0, 4.0
    for _ in range(60):           # H(25, s) = top25 / top1 decides s
        s = (lo + hi) / 2
        lo, hi = (s, hi) if (np.arange(1, 26) ** -s).sum() > top25 / top1 else (lo, s)
    h = np.cumsum(np.arange(1, 100_001, dtype=np.float64) ** -s)
    return s, int(np.searchsorted(h, 1.0 / top1)) + 1   # H(n, s) = 1 / top1


# Titles follow the law fitted to the reference's published skew
# (s ~ 0.52 over ~815 titles). Editors are assumed to be as skewed: the
# reference publishes no per-editor counts.
ZIPF_S, ZIPF_N = fit_zipf(REF_TOP1_EDITS / REF_EDITS,
                          1 - REF_PAST_TOP25_EDITS / REF_EDITS)
_ZIPF_CDF = np.cumsum(np.arange(1, ZIPF_N + 1, dtype=np.float64) ** -ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]


def _zipf(rng, size):
    """Ranks in [0, ZIPF_N) drawn from the fitted Zipf law."""
    return np.searchsorted(_ZIPF_CDF, rng.random(size), side="right")


def make_ingest(seed, n_batches, lines_per_batch):
    """Raw batches (lists of NDJSON lines) plus per-line metadata for the
    ground truth. Batch k holds `lines_per_batch` lines of event time
    [T0 + k*BATCH_SPAN_S, +BATCH_SPAN_S), one consumer flush; batch 4
    crosses a UTC midnight. Each batch has MALFORMED malformed lines,
    NULL_IDS null ids, DUPLICATES re-delivered copies of valid lines from
    this or the previous batch, and (after batch 0) LATE events dated
    whole days back, in the range LATE_DAYS."""
    rng = np.random.default_rng([seed, 2])
    next_id = 1
    batches = []
    prev_valid = []
    for k in range(n_batches):
        lo = INGEST_T0 + k * BATCH_SPAN_S
        n = lines_per_batch - DUPLICATES
        ts = np.sort(rng.integers(lo, lo + BATCH_SPAN_S, n))
        kind = np.zeros(n, np.int8)          # 0 clean, 1 malformed, 2 null id, 3 late
        pick = rng.permutation(n)
        kind[pick[:MALFORMED]] = 1
        kind[pick[MALFORMED:MALFORMED + NULL_IDS]] = 2
        if k > 0:
            # late event j of batch k is (k + j) mod 3 + 1 days old, so
            # every batch touches the same number of day partitions
            for j, i in enumerate(pick[MALFORMED + NULL_IDS:MALFORMED + NULL_IDS + LATE]):
                kind[i] = 3
                ts[i] -= 86_400 * (LATE_DAYS[0] + (k + j) % (LATE_DAYS[1] - LATE_DAYS[0] + 1))
        titles = _zipf(rng, n)
        users = _zipf(rng, n)
        botr = rng.random(n)
        minor = rng.random(n)
        lines, meta, cur_valid = [], [], []
        for i in range(n):
            if kind[i] == 1:
                lines.append('{"id": %d, "type": "edit", "title": "Page_' % next_id)
                meta.append(None)
                continue
            rec = {"id": None if kind[i] == 2 else next_id,
                   "type": ("edit", "new", "log", "categorize")[int(minor[i] * 97) % 4],
                   "title": f"Page_{titles[i]}",
                   "user": f"User{users[i]}",
                   "bot": (None if botr[i] < BOT_NULL
                           else bool(botr[i] < BOT_NULL + BOT_TRUE)),
                   "timestamp": int(ts[i]),
                   "comment": f"rev {next_id % 9973}"}
            if minor[i] >= MINOR_ABSENT:
                rec["minor"] = bool(minor[i] < 0.4)
            next_id += 1
            line = json.dumps(rec, separators=(",", ":"))
            lines.append(line)
            if rec["id"] is None:
                meta.append(None)
            else:
                m = (rec["id"], rec["title"], rec["user"], rec["timestamp"],
                     bool(kind[i] == 3))
                meta.append(m)
                cur_valid.append((line, m))
        # at-least-once redelivery: copies of earlier lines, same content
        pool = prev_valid + cur_valid
        for j in rng.integers(0, len(pool), DUPLICATES):
            lines.append(pool[j][0])
            meta.append(pool[j][1])
        order = rng.permutation(len(lines))
        lines = [lines[j] for j in order]
        meta = [meta[j] for j in order]
        batches.append((lines, meta))
        prev_valid = cur_valid
    return batches


def _ymd(epoch_s):
    d = dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)
    return d.year, d.month, d.day


def ingest_truth(batches):
    """What the pipeline must produce after the given batches:

    * `mv`: (yyyy, mm, dd, title, user) -> count over every curated row
      (duplicates and late events included: curation keeps them);
    * `serving`: (dt, username) -> edits, keep-latest over the per-batch
      top-10 editors of every day the batch touched (ties by username);
    * `stream_ids`: ids the deduplicating stream consumer emits — every
      valid id once, except late events (older than the 1 h watermark
      once the first batch has been seen);
    * `curated_rows` and `raw_lines`."""
    mv = {}
    day_user = {}
    serving = {}
    stream_ids = set()
    curated = raw = 0
    for lines, meta in batches:
        raw += len(lines)
        touched = set()
        for m in meta:
            if m is None:
                continue
            rid, title, user, ts, late = m
            curated += 1
            y, mo, d = _ymd(ts)
            key = (y, mo, d, title, user)
            mv[key] = mv.get(key, 0) + 1
            du = day_user.setdefault((y, mo, d), {})
            du[user] = du.get(user, 0) + 1
            touched.add((y, mo, d))
            if not late:
                stream_ids.add(rid)
        for day in touched:
            top = sorted(day_user[day].items(), key=lambda kv: (-kv[1], kv[0]))
            for user, edits in top[:TOP_EDITORS]:
                serving[("%04d-%02d-%02d" % day, user)] = edits
    return {"mv": mv, "serving": serving, "stream_ids": stream_ids,
            "curated_rows": curated, "raw_lines": raw}


def write_ingest(out_dir, seed, n_batches, lines_per_batch):
    """Write batch k as `<out_dir>/pending/b%05d.json.gz` and return
    (manifest, batches). The manifest records per-batch line counts and a
    digest of the uncompressed content."""
    os.makedirs(os.path.join(out_dir, "pending"), exist_ok=True)
    batches = make_ingest(seed, n_batches, lines_per_batch)
    manifest = {}
    for k, (lines, _) in enumerate(batches):
        body = ("\n".join(lines) + "\n").encode()
        name = f"b{k:05d}.json.gz"
        with open(os.path.join(out_dir, "pending", name), "wb") as f:
            f.write(gzip.compress(body, compresslevel=1, mtime=0))
        manifest[name] = {"rows": len(lines),
                          "digest": hashlib.sha256(body).hexdigest()[:16]}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest, batches


def verify_ingest(out_dir, manifest):
    for name, want in manifest.items():
        with open(os.path.join(out_dir, "pending", name), "rb") as f:
            body = gzip.decompress(f.read())
        got = {"rows": body.count(b"\n"),
               "digest": hashlib.sha256(body).hexdigest()[:16]}
        if got != want:
            raise RuntimeError(f"generated batch {name} does not read back: "
                               f"{got} != {want}")
