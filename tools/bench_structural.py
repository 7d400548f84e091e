#!/usr/bin/env python3
"""Structural cross-engine sweep: every structural query (DuckDB does
>= 0.5 s of real work at sf0.1 — the set BENCH_structural_r11.json
pinned) runs SOLO in its own Spark JVM (min over SPARK_GRAFT_BENCH_RUNS
runs) and in DuckDB (same box, same parquet, tools/bench_duckdb.py's
timer), producing one machine-readable artifact. Explicit query names
sweep just those (a family crossover at sf3/sf6) instead.

Usage: python3 tools/bench_structural.py <sfDir> <out.json> [runs=3] [duck_timeout_s=300] [query ...]

A DuckDB timeout reports duckdb_s = -timeout and gate = "PASS (DNF)":
the reference engine did not finish, which at the heavy tier IS the
scale finding. Gate: spark <= 2x duckdb. Every row whose Spark time or
ratio moved by more than +-25% against the newest committed artifact of
the same tier carries a WATCH. The sweep exits non-zero when a query it
was asked for has no row (a Spark failure is reported and skipped).
"""
import json, os, re, subprocess, sys

from bench_duckdb import connect, duck_min

QUERIES = [
  # dbt model layer FIRST (R18: the adjudicated rows land early so a
  # truncated sweep still carries the gate-relevant evidence)
  "q_model_impact_scores", "q_model_authority_scores",
  "q_model_wellbeing", "q_model_permit_details", "q_model_data_tests",
  "q_model_impact_scores_england", "q_model_authority_scores_england",
  "q_model_permit_details_england",
  "q_bpe_encode", "q_bpe_encode_bytes", "q_contamination",
  "q_curation_pipeline", "q_dedup_keep", "q_dedup_ngram",
  "q_dup_clusters", "q_dup_clusters_star", "q_dup_spans",
  "q_range_join_points", "q_semantic_clusters", "q_semantic_dedup_keep",
  "q_simhash_pairs", "q_span_cut", "q_span_cut_keep",
  "q_wellbeing_impact", "q_winnow_pairs", "q_unigram_encode",
  # the ANN family PINNED (r18 ask 7, twice-slipped): these rows rode
  # the auto-union, so any round whose full DuckDB artifact was missing
  # or empty silently dropped them from the sweep — never again
  "q_ann_ivf", "q_ann_ivf_indexed", "q_ann_pq", "q_ann_pq_indexed",
  "q_ann_pq_trained", "q_ivf_pq",
]


def prior_artifact(sf, out_path):
    """Newest committed structural artifact for the SAME tier (by round
    number in the filename), excluding the one being written — the
    drift reference (VERDICT r20 #3: a DNF row carries no ratio, and a
    passing row's ratio can double, q_ann_ivf 0.262 -> 0.544 in r21,
    without crossing the gate)."""
    import glob
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tier = os.path.basename(sf.rstrip("/")).replace(".", "")
    def round_no(p):
        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1
    cands = [p for p in glob.glob(
                 os.path.join(repo, f"BENCH_structural_{tier}_r*.json"))
             if os.path.abspath(p) != os.path.abspath(out_path)]
    cands.sort(key=round_no)
    if not cands:
        return {}, None
    art = json.load(open(cands[-1]))
    return art.get("queries", {}), os.path.basename(cands[-1])

# The pinned list can silently go stale as queries are added — auto-union
# in every query whose DuckDB sf0.1 minimum is >= 0.5 s of real work (the
# original structural criterion) from the newest committed full DuckDB
# artifact, so the structural sweep can never shrink below the definition
# it claims (the R15 "3 unrelated queries" artifact failure mode).
def structural_queries():
    import glob
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    def round_no(p):
        m = re.search(r"_r(\d+)_full\.json$", p)
        return int(m.group(1)) if m else -1
    # newest by ROUND NUMBER in the filename — file mtime is checkout
    # time in a fresh clone, which would tie-break arbitrarily
    fulls = sorted(glob.glob(os.path.join(repo, "DUCKDB_BENCH_r*_full.json")),
                   key=round_no)
    extra = []
    if fulls:
        art = json.load(open(fulls[-1]))
        # the >= 0.5 s criterion is defined AT sf0.1 — ignore artifacts
        # measured at another scale
        duck = art.get("queries", {}) if str(art.get("sf", "")).endswith("sf0.1") else {}
        extra = [q for q, v in duck.items()
                 if isinstance(v, (int, float)) and v >= 0.5
                 and q not in QUERIES]
        if extra:
            print(f"auto-added {len(extra)} structural queries from "
                  f"{os.path.basename(fulls[-1])}: {sorted(extra)}",
                  flush=True)
    return QUERIES + sorted(extra)


def spark_solo(sf, query, runs):
    detail = f"/tmp/bench_solo_{query}.json"
    if os.path.exists(detail):
        os.unlink(detail)  # never read a stale detail from a failed run
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_BENCH_RUNS=str(runs),
               SPARK_GRAFT_BENCH_OUT=detail)
    out = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Bench {query}"],
        capture_output=True, text=True, env=env, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))))
    s = json.load(open(detail))["queries"][query] if os.path.exists(detail) else -1.0
    if out.returncode != 0 or s < 0:  # -1 = the query threw inside Bench
        raise RuntimeError(f"Bench failed:\n{out.stdout[-2000:]}{out.stderr[-2000:]}")
    return s


def drift(row, prior_row, prior_name):
    """WATCH text when the row's Spark time or ratio moved by more than
    +-25% against the prior artifact's row, else None."""
    moved = []
    for key in ("spark_s", "ratio"):
        now, was = row.get(key), (prior_row or {}).get(key)
        if isinstance(now, (int, float)) and isinstance(was, (int, float)) \
                and was > 0 and abs(now / was - 1.0) > 0.25:
            moved.append(f"{key} {was:.3f} -> {now:.3f} ({now / was:.2f}x)")
    if not moved:
        return None
    return f"WATCH vs {prior_name}: " + ", ".join(moved)


def main():
    sf = sys.argv[1]
    out_path = sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    duck_timeout = float(sys.argv[4]) if len(sys.argv) > 4 else 300.0
    queries = sys.argv[5:] or structural_queries()

    # oracle SQL from the last Verify dump; regenerate it (one tiny
    # Verify run at sf0.001 — the oracle text is sf-independent) when the
    # dump is missing so the tool is reproducible from the repo alone
    oracle_path = "/tmp/vout01/oracle_sql.json"
    if not os.path.exists(oracle_path):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run(
            ["sbt", "-batch",
             "runMain graft.Verify /root/testdata/sf0.001 /tmp/vout01 "
             + queries[0]],
            check=True, capture_output=True, text=True, cwd=repo)
    oracles = json.load(open(oracle_path))
    con = connect(sf)

    # resume: keep rows already measured in a previous partial run —
    # only for queries still in the current list, and only if the prior
    # run used the same sf AND the same run count (mixing min-of-N tiers
    # under one mode label would mislabel the artifact)
    mode = f"solo-min-of-{runs}"
    result = {"mode": mode, "sf": sf, "queries": {}}
    if os.path.exists(out_path):
        partial = json.load(open(out_path))
        if partial.get("sf") == sf and partial.get("mode") == mode:
            result["queries"] = {q: v for q, v in
                                 partial.get("queries", {}).items()
                                 if q in queries}
    prior, prior_name = prior_artifact(sf, out_path)
    for q in queries:
        if q in result["queries"]:
            continue
        try:
            s = spark_solo(sf, q, runs)
        except RuntimeError as e:
            print(f"{q} SPARK FAILED: {e}", flush=True)
            continue
        d = duck_min(con, oracles[q], runs, duck_timeout)
        row = {"spark_s": round(s, 3), "duckdb_s": round(d, 3)}
        if d < 0:
            row["gate"] = "PASS (DNF)"
        else:
            row["ratio"] = round(s / d, 3)
            row["gate"] = "PASS" if row["ratio"] <= 2.0 else "FAIL"
        watch = drift(row, prior.get(q), prior_name)
        if watch:
            row["watch"] = watch
        result["queries"][q] = row
        print(q, row, flush=True)
        json.dump(result, open(out_path, "w"), indent=1)
    npass = sum(1 for q, v in result["queries"].items()
                if q in queries and v["gate"].startswith("PASS"))
    missing = [q for q in queries if q not in result["queries"]]
    result["summary"] = f"{npass}/{len(queries)} pass the 2x gate" + (
        f"; MISSING {len(missing)}: {', '.join(missing)}" if missing else "")
    json.dump(result, open(out_path, "w"), indent=1)
    print(result["summary"])
    for q, v in result["queries"].items():
        if "watch" in v:
            print(q, v["watch"])
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
