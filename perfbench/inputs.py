"""Input generators for the benchmark.

Two families, both pure functions of a seed:

* ``write_fixture`` -- the ten harness tables (schemas in FIXTURES.md) at
  scale factor 0.1, as single-row-group Parquet files. The query workloads
  run on this and the DuckDB oracle reads the same files. It is generated
  once per checkout from a constant seed; the workload seed only permutes
  the submission order.
* ``write_etl_day`` -- one landed day of raw Spotify payloads as
  newline-delimited JSON (``artist.json``, ``album.json``, ``track.json``),
  with planted re-fetch duplicates, nested ``followers`` and ``artists``
  fields and variable-precision release dates, plus the planted truth the
  correctness check compares the pipeline's output against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SF = 0.1

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()


def _pick(rng, options, n, p=None):
    return np.asarray(options, dtype=object)[rng.choice(len(options), size=n, p=p)]


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def write_fixture(out_dir, seed=FIXTURE_SEED, sf=SF):
    """Write the ten harness tables for scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": _cents(rng, 0.0, 0.1, n_li),
        "l_tax": _cents(rng, 0.0, 0.08, n_li),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us"))})
    gaps_us = np.round(rng.exponential(25.92e6, n_ev)).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_pick(rng, VOCAB, int(n))) for n in rng.integers(10, 101, n_doc)]
    # 5% planted near-duplicates: an earlier document's text plus " dup".
    for d in sorted(rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False)):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "fr", "es", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ------------------------------------------------------------------ etl_daily

_ID_CHARS = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))


def _ids(rng, n):
    """n distinct 22-character base62 ids (Spotify's id shape)."""
    out = set()
    while len(out) < n:
        out.update("".join(r) for r in _ID_CHARS[rng.integers(0, 62, (n - len(out), 22))])
    return sorted(out)


def _release_date(rng):
    y, m, d = int(rng.integers(1960, 2025)), int(rng.integers(1, 13)), int(rng.integers(1, 29))
    return [f"{y}", f"{y}-{m:02d}", f"{y}-{m:02d}-{d:02d}"][int(rng.integers(0, 3))]


def write_etl_day(out_dir, seed, shape):
    """Write one day of raw payloads in ``shape`` (the ``etl_daily`` entry
    of workloads.json) and return its planted truth: per-entity row counts
    plus the first-fetch winner names of albums and tracks (re-fetched
    copies carry a different name, so a later copy winning shows as a name
    mismatch)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    artists = _ids(rng, shape["artists"])
    artist_names = {a: f"Artist {i}" for i, a in enumerate(artists)}

    def credits():
        k = int(rng.integers(1, shape["max_artists_per_item"] + 1))
        return [artists[int(j)] for j in rng.integers(0, len(artists), k)]

    def land(path, records):
        """Records in fetch order with re-fetched copies of a random share
        appended after their first fetch."""
        lines = [r for r, _ in records]
        for idx in rng.choice(len(records), int(len(records) * shape["refetch_share"]), replace=False):
            lines.append(records[int(idx)][1])
        with open(path, "w") as f:
            f.writelines(json.dumps(r, separators=(",", ":")) + "\n" for r in lines)
        return len(lines)

    artist_rows = [({"id": a, "name": artist_names[a],
                     "followers": {"href": None, "total": int(rng.integers(0, 10**7))},
                     "popularity": int(rng.integers(0, 101))},) * 2 for a in artists]
    n_artist_lines = land(os.path.join(out_dir, "artist.json"), artist_rows)

    def items(n, build):
        rows, bridge = [], set()
        for i, item_id in enumerate(_ids(rng, n)):
            cred = credits()
            bridge.update((item_id, a) for a in cred)
            rec = build(i, item_id, [{"id": a, "name": artist_names[a]} for a in cred])
            rows.append((rec, dict(rec, name=rec["name"] + " (re-fetch)")))
        return rows, bridge

    album_rows, album_bridge = items(shape["albums"], lambda i, a_id, arts: {
        "id": a_id, "name": f"Album {i}", "release_date": _release_date(rng),
        "album_type": ["album", "single", "compilation"][int(rng.integers(0, 3))],
        "total_tracks": int(rng.integers(1, 30)), "album_group": "album", "artists": arts})
    land(os.path.join(out_dir, "album.json"), album_rows)
    track_rows, track_bridge = items(shape["tracks"], lambda i, t_id, arts: {
        "id": t_id, "name": f"Track {i}", "track_number": int(rng.integers(1, 20)),
        "duration_ms": int(rng.integers(60_000, 400_000)), "artists": arts})
    land(os.path.join(out_dir, "track.json"), track_rows)
    return {
        "counts": {"artist": n_artist_lines, "album": len(album_rows),
                   "album_artists": len(album_bridge), "track": len(track_rows),
                   "track_artists": len(track_bridge)},
        "winners": {"album": {r["id"]: r["name"] for r, _ in album_rows},
                    "track": {r["id"]: r["name"] for r, _ in track_rows}},
    }
