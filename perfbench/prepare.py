"""Make one run's inputs and reference results from its seed.

Runs in a child process before the measured process starts Spark, so input
generation and the DuckDB reference queries stay outside every timing and
the measured process imports the program cold.

    python3 perfbench/prepare.py <workload> <seed> <run_dir>
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def prepare_queries(names: list[str], seed: int, run_dir: str) -> None:
    """Seeded tables from tools/datagen.py and, per query, its DuckDB
    oracle result normalised as tools/check_oracle.py does."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.path.insert(0, ROOT)
    import check_oracle
    import datagen
    import duckdb

    from worlddatapipeline_spark.queries import ORACLES

    data = os.path.join(run_dir, "data")
    datagen.SEED = seed
    datagen.gen(workloads.SCALE_FACTOR, data)
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for name in names:
        tbl = con.execute(ORACLES[name]).fetch_arrow_table()
        cols = tbl.column_names
        rows = [[r[c] for c in cols] for r in tbl.to_pylist()]
        expected[name] = {
            "cols": sorted(cols),
            "rows": check_oracle.rows_to_multiset(cols, rows),
            # tables the query reads, for the traced direct load_tables call
            "tables": [t for t in TABLES if re.search(rf"\b{t}\b", ORACLES[name])],
        }
    con.close()
    with open(os.path.join(run_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh)


def _listing_text(rng, scenes: list[str], cycle: int) -> tuple[str, list[list]]:
    """A `bcecmd bos ls -r` style listing of the given scenes and the map
    objects it holds as (scene, map, key, size) rows."""
    lines, maps = ["PRE  scenes/"], []
    for s in scenes:
        for j in range(int(rng.integers(2, 8))):
            name = f"{s}_Map{j:02d}"
            key = f"{s}/Content/Maps/{name}.umap"
            size = int(rng.integers(10_000, 5_000_000))
            maps.append([s, name, key, size])
            lines.append(f"2024-03-{1 + cycle % 28:02d} 10:{j:02d}:00  {size}  STANDARD  {key}")
        for j in range(int(rng.integers(12, 32))):
            key = f"{s}/Content/Meshes/SM Rock {j:03d}.uasset"
            lines.append(f"2024-03-01 09:00:00  {int(rng.integers(100, 900_000))}  STANDARD  {key}")
    lines.append(f"TOTAL  {len(lines) - 1} OBJECTS")
    return "\n".join(lines) + "\n", maps


def prepare_catalog(seed: int, run_dir: str) -> None:
    """Per-cycle listings, actors, the store listing, the CDC snapshot and
    change batches, and the rows each cycle applies (for the
    last-writer-wins check)."""
    rng = np.random.default_rng(seed)
    inp = os.path.join(run_dir, "catalog_inputs")
    os.makedirs(inp)
    universe = [f"S{i:04d}" for i in range(workloads.CATALOG_SCENES)]
    applied = []
    for c in range(workloads.CATALOG_CYCLES):
        keep = rng.random(len(universe)) < workloads.CATALOG_LISTED
        text, maps = _listing_text(rng, [s for s, k in zip(universe, keep) if k], c)
        with open(os.path.join(inp, f"listing_{c}.txt"), "w") as fh:
            fh.write(text)
        applied.append(maps)

    all_maps = sorted({m[1]: m[0] for batch in applied for m in batch}.items())
    n_act = rng.integers(0, 16, len(all_maps))
    names = np.repeat([m for m, _ in all_maps], n_act)
    n = len(names)
    pq.write_table(pa.table({
        "map_name": names,
        **{f"origin_{a}": rng.normal(0, 3000, n).round(1) for a in "xyz"},
        **{f"extent_{a}": rng.uniform(10, 400, n).round(1) for a in "xyz"},
    }), os.path.join(inp, "actors.parquet"))
    seq_maps = sorted(rng.choice([m for m, _ in all_maps], workloads.SEQUENCE_MAPS,
                                 replace=False).tolist())

    stored = [s for s in universe if rng.random() < 0.7] + [f"X{i:04d}" for i in range(50)]
    pq.write_table(pa.table({"scene_name": stored}), os.path.join(inp, "store.parquet"))

    snap = sorted(rng.choice(universe, workloads.CDC_SNAPSHOT, replace=False).tolist())
    pq.write_table(pa.table({"scene_name": snap, "status": ["new"] * len(snap)}),
                   os.path.join(inp, "cdc_snapshot.parquet"))
    seq = 0
    changes = []
    for c in range(workloads.CATALOG_CYCLES):
        n = workloads.CDC_BATCH
        keys = rng.choice(universe, n).tolist()
        ops = rng.choice(["I", "U", "D"], n, p=[0.3, 0.55, 0.15]).tolist()
        status = rng.choice(["baked", "rendered", "uploaded", "failed"], n).tolist()
        seqs = list(range(seq, seq + n))
        seq += n
        pq.write_table(pa.table({
            "scene_name": keys, "status": status, "op": ops,
            "seq": pa.array(seqs, pa.int64()),
        }), os.path.join(inp, f"changes_{c}.parquet"))
        changes.append([list(r) for r in zip(keys, status, ops, seqs)])
    # empty catalog tables in the schema of the frames merged into them; the first merge
    # turns each into a versioned table
    for name, schema in {
        "scenes": [("scene_name", pa.string()), ("file_count", pa.int64()),
                   ("total_size_bytes", pa.int64()), ("last_updated", pa.string())],
        "maps": [("scene_name", pa.string()), ("map_name", pa.string()),
                 ("map_path", pa.string())],
        "sequences": [("sequence_name", pa.string()), ("map_name", pa.string())],
    }.items():
        os.makedirs(os.path.join(inp, "catalog", name))
        pq.write_table(pa.schema(schema).empty_table(),
                       os.path.join(inp, "catalog", name, "part-0.parquet"))
    with open(os.path.join(run_dir, "expected.json"), "w") as fh:
        json.dump({"maps_by_cycle": applied, "sequence_maps": seq_maps,
                   "cdc_snapshot": snap, "cdc_changes": changes}, fh)


def main() -> None:
    workload, seed, run_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(run_dir, exist_ok=True)
    if workload == "catalog_jobs":
        prepare_catalog(seed, run_dir)
    else:
        prepare_queries(workloads.QUERY_MIXES[workload], seed, run_dir)


if __name__ == "__main__":
    main()
