#!/usr/bin/env python3
"""Derives perfbench/queries.json: the floor/heavy split, the per-run
query lists, the probe and warm-up lists and the oracle digests. Run once
per change of the registered queries; the result is committed and never
chosen per run.

Usage (from the repository root):
  python3 perfbench/derive.py twins <twins.json> <spark_floor.json> <spark_heavy.json>

  <twins.json>   output of `tools/duckdb_twin_bench.py perfbench/fixture/sf0.1 <oracle_sql.json> 2`
  <spark_*.json> artifacts of `PERFBENCH_ALL=floor|heavy run.py --workload queries
                 --seed 0 --seconds 0`, which runs every query of that class once

Rules:
  - floor = queries whose DuckDB twin takes < 0.1 s on the fixture, heavy = the rest;
  - the queries workload's list is a systematic sample of the floor class
    (sort the class by cold Spark seconds on this host, keep every k-th,
    k = ceil(class size / FLOOR_LIST_SIZE), starting at k // 2) followed by
    HEAVY_LIST, the Jaccard candidate family of the heavy class, which loses
    to its DuckDB twins on this host (ROADMAP "Where it stands"). The seed
    orders the floor part; HEAVY_LIST runs last in this order (fixed_order),
    because its queries share memos and their cost depends on which runs first;
  - the list is sized to the benchmark's run budget, not to the classes;
  - the probe list (the traced run's one-query-per-family probe) is each
    family's fastest floor query by cold Spark seconds; the set-up warm-up
    list is the probe queries of the rel, text and ts families;
  - digests: row count and order-insensitive digest of each twin's result in
    DuckDB, canonicalized as tools/check_oracle.py does (metrics.digest).
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402

FLOOR_LIST_SIZE = 6
# the heavy-class queries that lose to their DuckDB twins on a 4-core host
# (ROADMAP "Where it stands"): the Jaccard candidate family
HEAVY_LIST = ["q_dedup_canon_pairs", "q_dedup_lsh_tuning", "q_dedup_ngram_jaccard"]
TWIN_FLOOR_S = 0.1
WARMUP_FAMILIES = ("rel", "text", "ts")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql(cp, work):
    out = os.path.join(work, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "oracle-sql",
                    "--seed", "0", "--seconds", "0", "--trace", "0", "--fixture", "",
                    "--work", work, "--out", out], check=True, stdout=sys.stderr)
    with open(out) as fh:
        return json.load(fh)


def digests(fixture, oracle):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    out = {}
    for name in sorted(oracle):
        rows, dig = metrics.digest(con, con.sql(oracle[name]))
        out[name] = {"rows": rows, "digest": dig}
        print(f"[derive] {name} rows={rows}", file=sys.stderr)
    return out


def spark_seconds(path):
    with open(path) as fh:
        raw = json.load(fh)["raw"]
    return {k: v["s"] for k, v in raw["record"]["values"]["queries"].items()}


def sample(names, secs, k_of):
    ordered = sorted(names, key=lambda n: (secs[n], n))
    k = math.ceil(len(ordered) / k_of)
    return ordered[k // 2::k]


def main(twins_path, floor_art, heavy_art):
    cp = run.build()
    fixture = os.path.join(HERE, "fixture", "sf0.1")
    os.makedirs(run.WORK, exist_ok=True)
    oracle = oracle_sql(cp, run.WORK)
    with open(twins_path) as fh:
        twins = json.load(fh)["queries"]
    classes = {
        "floor": sorted(n for n in oracle if twins[n] < TWIN_FLOOR_S),
        "heavy": sorted(n for n in oracle if twins[n] >= TWIN_FLOOR_S),
    }
    secs = {**spark_seconds(floor_art), **spark_seconds(heavy_art)}
    assert set(HEAVY_LIST) <= set(classes["heavy"])
    lists = {"queries": sample(classes["floor"], secs, FLOOR_LIST_SIZE) + HEAVY_LIST,
             "fixed_order": HEAVY_LIST}
    fam = {}
    for n in sorted(classes["floor"], key=lambda n: (secs[n], n)):
        fam.setdefault(n.split("_")[1], n)
    lists["probe"] = [fam[f] for f in sorted(fam)]
    lists["warmup"] = [fam[f] for f in WARMUP_FAMILIES]
    spec = {
        "rules": __doc__.split("Rules:")[1].strip(),
        "classes": classes,
        "lists": lists,
        "twin_s": {n: twins[n] for n in sorted(twins)},
        "spark_cold_s": {n: round(secs[n], 4) for n in sorted(secs)},
        "digests": digests(fixture, oracle),
    }
    with open(os.path.join(HERE, "queries.json"), "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "twins":
        raise SystemExit(__doc__)
    main(*sys.argv[2:])
