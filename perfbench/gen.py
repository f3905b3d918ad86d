#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Builds key-shifted, perturbed replicas of the committed sf0.01 driver
tables (the scheme of tools/make_scaled_sf.py, with the seed choosing key
blocks), the export catalog, and the expected counts the output checks
compare against. Expected counts are computed here with pyarrow,
independently of the engine under test.

The same seed always gives byte-identical inputs.

Usage: python3 perfbench/gen.py <workload> <seed> <outDir>
"""
import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
BASE_SCALE = "sf0.01"

# Replica counts per workload, chosen so one iteration takes 2.5-4.5 s on a
# 4-core box (see README.md, "Sizing"). At 32 copies about a third of an
# etl_export iteration grows with the feature count; the rest is the fixed
# cost of seven Cli calls.
EXPORT_COPIES = 32
CORPUS_COPIES = 2

# Two GIS-ETL registry rows per family (src_, tr_, geo_, exp_), about 2.5 s
# of wall time on 4 cores; exp_fgb_roundtrip is a memoised row.
REGISTRY_ROWS = ("src_filter_eq", "src_select_alias",
                 "tr_normalize_places", "tr_geometry_rules",
                 "geo_haversine", "geo_bbox_typed",
                 "exp_fgb_roundtrip", "exp_gpkg_roundtrip")

KEY_OF = {"customer": "c_custkey", "documents": "doc_id", "embeddings": "vec_id"}

# Export catalog (the JSON form QueryConfig.catalogFromJson reads). Geometry
# columns are passed to `Cli export --geom=x,y` per entry. lineitem/orders
# are left out on purpose: their TIMESTAMP_NTZ date columns fail 4 of the 5
# geo writers (probe `defect.export_timestamp_ntz`). part and supplier are
# left out to keep one iteration near 3.5 s (README.md, "Sizing").
EXPORT_CATALOG = [
    {"name": "customer_sites", "theme": "customer", "type": "site",
     "filter": "c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')",
     "sector_title": "Customer Sites", "upsert_key": "c_custkey",
     "geom": "c_acctbal,c_nationkey"},
    {"name": "education", "theme": "customer", "type": "site",
     "filter": "c_mktsegment = 'FURNITURE'",
     "building_theme": "customer",
     "building_filter": "c_mktsegment = 'HOUSEHOLD'",
     "is_multilayer": "true", "geom": "c_acctbal,c_nationkey"},
]


def read(table):
    return pq.read_table(os.path.join(BASE, f"{table}.parquet"))


def write(tbl, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


def replicate(table, copies, rng):
    """Key-shifted copies of one base table (tools/make_scaled_sf.py's
    scheme). The seed picks each copy's key block; it does not change how
    much work the data makes: the same rows pass every filter and the same
    near-duplicate structure holds for every seed. Values are perturbed per
    copy, not per seed, because seeded jitter changed the parquet files'
    size (and so out_bytes_per_in_byte) by up to 4.5% between seeds."""
    src = read(table)
    key = KEY_OF[table]
    base = pc.max(src[key]).as_py() + 1
    blocks = rng.sample(range(4 * copies), copies)
    out = []
    for i in range(copies):
        cols = {}
        for name in src.column_names:
            col = src[name].combine_chunks()
            if name == key:
                col = pc.add(col, blocks[i] * base).cast(col.type)
            elif i > 0 and pa.types.is_floating(col.type) and name.endswith("acctbal"):
                col = pc.round(pc.add(col, 0.01 * i), 2).cast(col.type)
            elif i > 0 and table == "documents" and name == "text":
                # every 3rd word gets a copy suffix, so no 5-gram collides
                # across copies while within-copy near-dups are kept
                col = pa.array([" ".join(w if j % 3 else f"{w}-{i}"
                                         for j, w in enumerate(v.split(" ")))
                                for v in col.to_pylist()], type=col.type)
            elif i > 0 and table == "embeddings" and name == "embedding":
                col = pa.array([v[i:] + v[:i] for v in col.to_pylist()], type=col.type)
            cols[name] = col
        if table == "documents" and i > 0:
            cols["n_chars"] = pa.array([len(v) for v in cols["text"].to_pylist()],
                                       type=pa.int64())
        out.append(pa.table(cols, schema=src.schema))
    return pa.concat_tables(out).combine_chunks()


def filtered_count(tbl, spec):
    """Rows matching a catalog filter (`c = 'v'` or `c IN ('a','b')`)."""
    if not spec:
        return tbl.num_rows
    col, rest = spec.split(None, 1)
    if rest.startswith("IN"):
        vals = [v.strip().strip("'") for v in rest[2:].strip()[1:-1].split(",")]
    else:
        vals = [rest.split("=", 1)[1].strip().strip("'")]
    return pc.sum(pc.is_in(tbl[col], value_set=pa.array(vals))).as_py() or 0


def gen_export(rng, out):
    tables = {"customer": replicate("customer", EXPORT_COPIES, rng)}
    for t, tbl in tables.items():
        write(tbl, os.path.join(out, "sf", f"{t}.parquet"))
    expected = {}
    for e in EXPORT_CATALOG:
        tbl = tables[e["theme"]]
        if e.get("is_multilayer") == "true":
            expected[e["name"]] = {
                "places": filtered_count(tbl, e.get("filter")),
                "buildings": filtered_count(tables[e["building_theme"]], e.get("building_filter"))}
        else:
            expected[e["name"]] = filtered_count(tbl, e.get("filter"))
    catalog = [{k: v for k, v in e.items() if k != "geom"} for e in EXPORT_CATALOG]
    return {"catalog": catalog, "geom": {e["name"]: e["geom"] for e in EXPORT_CATALOG},
            "expected": expected}


def gen_corpus(rng, out):
    for t in ("documents", "embeddings"):
        write(replicate(t, CORPUS_COPIES, rng), os.path.join(out, "sf", f"{t}.parquet"))
    return {}


def gen_registry(rng, out):
    # The registry rows run on the committed sf0.01 tables unchanged (their
    # expected counts are the DuckDB-oracled sf0.01 counts); the seed only
    # permutes row order.
    os.makedirs(os.path.join(out, "sf"), exist_ok=True)
    for f in sorted(os.listdir(BASE)):
        shutil.copyfile(os.path.join(BASE, f), os.path.join(out, "sf", f))
    with open(os.path.join(HERE, "data", "registry_rows_sf0.01.json")) as fh:
        rows = json.load(fh)
    names = list(REGISTRY_ROWS)
    rng.shuffle(names)
    return {"order": names, "expected": {n: rows[n] for n in names}}


GENERATORS = {"etl_export": gen_export, "corpus_curate": gen_corpus,
              "registry_fixed": gen_registry}


def main(workload, seed, out):
    if workload not in GENERATORS:
        raise SystemExit(f"unknown workload {workload!r} (have {', '.join(GENERATORS)})")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = random.Random(f"{workload}:{seed}")
    spec = GENERATORS[workload](rng, out)
    sf = os.path.join(out, "sf")
    spec.update({
        "workload": workload, "seed": seed, "base_scale": BASE_SCALE, "sf_dir": sf,
        "input_bytes": {f[:-8]: os.path.getsize(os.path.join(sf, f))
                        for f in sorted(os.listdir(sf)) if f.endswith(".parquet")},
        "input_rows": {f[:-8]: pq.read_metadata(os.path.join(sf, f)).num_rows
                       for f in sorted(os.listdir(sf)) if f.endswith(".parquet")},
        "copies": {"etl_export": EXPORT_COPIES, "corpus_curate": CORPUS_COPIES,
                   "registry_fixed": 1}[workload],
    })
    if "catalog" in spec:
        with open(os.path.join(out, "catalog.json"), "w") as fh:
            json.dump(spec["catalog"], fh, indent=1)
        spec["catalog_path"] = os.path.join(out, "catalog.json")
    with open(os.path.join(out, "spec.json"), "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3])
