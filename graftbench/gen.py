"""Seeded input generation for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical files. Sizes are fixed per workload, so the
seed changes content and never the amount of work. `generate` writes into
a temporary directory and renames it into place, so an interrupted run
never leaves a half-written cache entry behind.

Table shapes follow the repository's test tables (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), so every
`SparkEntry.queries` builder runs unchanged over them.
"""
import csv
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table for the query workload: `curation` has 1000 documents and
# 500 embeddings, and a token-sized star schema, because no curation query
# reads it.
SCALES = {
    "curation": dict(customer=300, supplier=20, part=400, orders=3000,
                     lineitem=12000, events=2000, documents=1000,
                     embeddings=500),
}
# ingest: NHS-EPD-shaped CSV rows, the upsert share, Street Manager permits
INGEST_ROWS = 10000
INGEST_UPSERT_SHARE = 0.05
INGEST_PERMITS = 20
# curation's stream: backlog files (one per micro-batch) x documents per
# file; more files than a run can consume
STREAM_FILES = 40
STREAM_DOCS_PER_FILE = 30
STREAM_REFERENCE_DOCS = 100
STREAM_BENCHMARK_DOCS = 50

# The test tables' 31 words plus synthetic ones, drawn Zipf-like: with a
# realistic vocabulary unrelated documents share few shingles, so the
# near-dup and decontamination stages remove the planted cases, not
# everything.
COMMON = ("a the data spark stream batch query table column row key value "
          "join sort hash scan filter group agg window merge order part "
          "line customer vector small big fast slow").split()
WORDS = COMMON + [f"w{i}" for i in range(4000)]
_ZIPF = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.05
_ZIPF /= _ZIPF.sum()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "red", "small", "green", "cold", "bright"]
PNOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
DAY_US = 86400 * 1000000
EPOCH_1995_US = 788918400 * 1000000   # 1995-01-01
EPOCH_2024_US = 1704067200 * 1000000  # 2024-01-01


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path, rows_per_group=None):
    pq.write_table(table, path, row_group_size=rows_per_group)


def _doc_texts(rng, n, near_dup_share=0.05, exact_dup_share=0.01,
               contaminate=None, contaminated_share=0.1):
    """Documents with planted exact and near duplicates, so the dedup,
    minhash and winnowing operators have work to find; with `contaminate`
    (texts), a share of documents embeds a 12-token span of one of them."""
    lens = rng.integers(8, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.choice(len(WORDS), k, p=_ZIPF)]) for k in lens]
    for i in range(1, n):
        r = rng.random()
        j = int(rng.integers(0, i))
        if r < exact_dup_share:
            texts[i] = texts[j]
        elif r < exact_dup_share + near_dup_share:
            toks = texts[j].split(" ")
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(toks)
        elif contaminate and r < exact_dup_share + near_dup_share + contaminated_share:
            src = contaminate[int(rng.integers(0, len(contaminate)))].split(" ")
            at = int(rng.integers(0, max(1, len(src) - 12)))
            texts[i] = texts[i] + " " + " ".join(src[at:at + 12])
    return texts


def documents_table(rng, n, first_id=0, contaminate=None):
    texts = _doc_texts(rng, n, contaminate=contaminate)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star_tables(seed, sizes, out):
    """The ten parquet tables every `SparkEntry.queries` builder reads."""
    n = sizes
    r = _rng(seed, 1)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, c), pa.string()),
    }), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, s),
    }), f"{out}/supplier.parquet")
    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(r.choice(PADJ, p), " "),
                                       r.choice(PNOUN, p)), pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(r.choice(PTYPES, p), pa.string()),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["O", "F", "P"], o), pa.string()),
        "o_totalprice": _money(r, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995_US + r.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, o), pa.string()),
    }), f"{out}/orders.parquet")
    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, li),
        "l_discount": np.round(r.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(r.choice(["O", "F"], li), pa.string()),
        "l_shipdate": _ts(EPOCH_1995_US + 1 * DAY_US + r.integers(0, 2498, li) * DAY_US),
    }), f"{out}/lineitem.parquet", rows_per_group=max(4096, li // 8))
    e = n["events"]
    ts = np.sort(r.integers(0, 30 * DAY_US, e)) + EPOCH_2024_US
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, max(10, e // 66), e), pa.int64()),
        "event_type": pa.array(r.choice(EVENT_TYPES, e), pa.string()),
        "value": np.round(r.exponential(60.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)], pa.string()),
    }), f"{out}/events.parquet", rows_per_group=max(4096, e // 8))
    _write(documents_table(_rng(seed, 2), n["documents"]),
           f"{out}/documents.parquet", rows_per_group=max(512, n["documents"] // 8))
    v = n["embeddings"]
    rv = _rng(seed, 3)
    centers = rv.normal(0.0, 1.0, (10, 64))
    labels = rv.integers(0, 10, v)
    vecs = centers[labels] + rv.normal(0.0, 0.6, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


NHS_COLUMNS = [
    "YEAR_MONTH", "REGIONAL_OFFICE_NAME", "REGIONAL_OFFICE_CODE", "ICB_NAME",
    "ICB_CODE", "PCO_NAME", "PCO_CODE", "PRACTICE_NAME", "PRACTICE_CODE",
    "ADDRESS_1", "ADDRESS_2", "ADDRESS_3", "ADDRESS_4", "POSTCODE",
    "BNF_CHEMICAL_SUBSTANCE_CODE", "BNF_CHEMICAL_SUBSTANCE",
    "BNF_PRESENTATION_CODE", "BNF_PRESENTATION_NAME", "BNF_CHAPTER_PLUS_CODE",
    "QUANTITY", "ITEMS", "TOTAL_QUANTITY", "ADQ_USAGE", "NIC", "ACTUAL_COST",
    "UNIDENTIFIED", "SNOMED_CODE"]
# the merge key: one row per practice x presentation in a month
NHS_KEYS = ["PRACTICE_CODE", "BNF_PRESENTATION_CODE"]


def _nhs_rows(r, keys):
    """One EPD row per (practice, presentation) key; free-text fields carry
    commas and doubled quotes, so the RFC-4180 quoting path is exercised."""
    n = len(keys)
    items = r.integers(1, 200, n)
    qty = np.round(r.uniform(1.0, 100.0, n), 1)
    nic = np.round(r.uniform(1.0, 900.0, n), 2)
    rows = []
    for i, (prac, pres) in enumerate(keys):
        region = prac % 7
        rows.append([
            "202505", f"REGION {region}", f"Y{region:02d}",
            f"NHS ICB {prac % 42}, \"North\"", f"Q{prac % 42:02d}",
            f"PCO {prac % 120}", f"P{prac % 120:03d}",
            f"The \"{prac}\" Surgery, Main St", f"A{prac:05d}",
            f"{prac % 300} High Street", "Suite 2, Floor 1", "Town", "County",
            f"AB{prac % 90} {prac % 9}CD", f"{pres % 500:04d}0A0",
            f"Substance {pres % 500}", f"{pres:09d}AA",
            f"Drug {pres} 10mg tablets, \"film-coated\"", f"{pres % 23:02d}",
            f"{qty[i]:.1f}", str(int(items[i])), f"{qty[i] * items[i]:.1f}",
            f"{qty[i] / 3:.3f}", f"{nic[i]:.2f}", f"{nic[i] * 0.93:.2f}",
            "", str(100000000 + pres)])
    return rows


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, doublequote=True,
                       lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def ingest_inputs(seed, out):
    r = _rng(seed, 10)
    # unique (practice, presentation) keys
    flat = r.choice(4000 * 3000, INGEST_ROWS, replace=False)
    keys = [(int(k // 3000), int(k % 3000)) for k in flat]
    rows = _nhs_rows(r, keys)
    _write_csv(f"{out}/epd.csv", NHS_COLUMNS, rows)
    # upsert: a share of existing keys with new values, plus as many new keys
    n_up = int(INGEST_ROWS * INGEST_UPSERT_SHARE)
    upd_idx = r.choice(INGEST_ROWS, n_up, replace=False)
    taken = set(int(k) for k in flat)
    fresh = []
    while len(fresh) < n_up:
        k = int(r.integers(0, 4000 * 3000))
        if k not in taken:
            taken.add(k)
            fresh.append((k // 3000, k % 3000))
    up_rows = _nhs_rows(r, [keys[i] for i in upd_idx] + fresh)
    _write_csv(f"{out}/epd_upsert.csv", NHS_COLUMNS, up_rows)
    final = {(row[8], row[16]): int(row[20]) for row in rows}
    for row in up_rows:
        final[(row[8], row[16])] = int(row[20])
    # Street Manager archive: one nested permit event per json file
    with zipfile.ZipFile(f"{out}/street_manager.zip", "w",
                         zipfile.ZIP_DEFLATED) as z:
        for i in range(INGEST_PERMITS):
            ev = {
                "version": 1, "event_reference": 500000 + i,
                "event_type": r.choice(["WORK_START", "WORK_STOP", "PERMIT_GRANTED"]).item(),
                "event_time": f"2025-01-{1 + i % 28:02d}T{i % 24:02d}:00:00Z",
                "object_type": "PERMIT", "object_reference": f"PRM{i:06d}",
                "object_data": {
                    "work_reference_number": f"WRN{i:06d}",
                    "work_category": r.choice(["Minor", "Major", "Standard"]).item(),
                    "work_status": "in_progress",
                    "activity_type": "Remedial works",
                    "permit_reference_number": f"WRN{i:06d}-01",
                    "permit_status": r.choice(["granted", "closed"]).item(),
                    "promoter_swa_code": f"{int(r.integers(1000, 9999))}",
                    "promoter_organisation": f"Utility {i % 17}, Ltd",
                    "highway_authority": f"Council {i % 31}",
                    "highway_authority_swa_code": f"{1000 + i % 31}",
                    "works_location_coordinates":
                        f"POINT ({float(r.uniform(400000, 500000)):.1f} "
                        f"{float(r.uniform(100000, 200000)):.1f})",
                    "town": f"Town {i % 50}", "street_name": f"Street {i}",
                    "usrn": str(int(r.integers(10000000, 99999999))),
                    "road_category": str(int(r.integers(1, 5))),
                    "proposed_start_date": "2025-01-10T00:00:00.000Z",
                    "proposed_end_date": "2025-01-20T00:00:00.000Z",
                    "is_traffic_sensitive": "No",
                },
            }
            z.writestr(f"permits/event_{i:06d}.json", json.dumps(ev, indent=1))
    return {"csv_rows": INGEST_ROWS, "upsert_rows": len(up_rows),
            "rows_after_merge": len(final),
            "items_after_merge": sum(final.values()),
            "permits": INGEST_PERMITS}


def stream_inputs(seed, out):
    """Backlog files and reference corpora for `EventStream.curationStream`."""
    r = _rng(seed, 20)
    backlog = f"{out}/backlog"
    os.makedirs(backlog)
    # reference corpora the LM gate and the decontamination gate train on
    bench = documents_table(_rng(seed, 22), STREAM_BENCHMARK_DOCS,
                            first_id=2 * 10 ** 6).select(["doc_id", "text"])
    _write(bench, f"{out}/benchmark_split.parquet")
    _write(documents_table(_rng(seed, 21), STREAM_REFERENCE_DOCS, first_id=10 ** 6)
           .select(["doc_id", "text"]), f"{out}/lm_reference.parquet")
    n = STREAM_FILES * STREAM_DOCS_PER_FILE
    docs = documents_table(r, n, contaminate=bench.column("text").to_pylist()) \
        .select(["doc_id", "text"])
    for i in range(STREAM_FILES):
        part = docs.slice(i * STREAM_DOCS_PER_FILE, STREAM_DOCS_PER_FILE)
        _write(part, f"{backlog}/part-{i:03d}.parquet")
    return {"docs": n, "files": STREAM_FILES}


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(workload, seed, dest):
    """Write the inputs of (workload, seed) to `dest` unless already there;
    returns the manifest (sizes and counts) stored with them."""
    manifest_path = os.path.join(dest, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload in SCALES:
        star_tables(seed, SCALES[workload], tmp)
        info = {"rows": SCALES[workload]}
        if workload == "curation":
            os.makedirs(f"{tmp}/stream")
            info["stream"] = stream_inputs(seed, f"{tmp}/stream")
    elif workload == "ingest":
        info = ingest_inputs(seed, tmp)
    else:
        raise ValueError(f"unknown workload {workload}")
    info.update(workload=workload, seed=seed, bytes=_dir_bytes(tmp))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return info


if __name__ == "__main__":
    import sys
    import time
    t = time.time()
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
    print(f"{time.time() - t:.1f} s", file=sys.stderr)
