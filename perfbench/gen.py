"""Seeded input generator for the benchmark.

Two kinds of input, both written with pyarrow in this one process:

* ``tables``: the star schema + events + documents + embeddings that
  ``SparkEntry.queries`` reads (one parquet file per table, the same column
  names and physical types as the fixture family the query oracles were
  written against).
* ``lake``: a building time-series lake shaped like the reference's
  ``…/timeseries_individual_buildings/by_state/upgrade=U/state=S/`` tree, one
  parquet file per building, plus the v1 metadata file with the dotted
  ``in.*`` columns. The ETL job selects one (state, upgrade) slice; a second
  state and a second upgrade with as many files exist only to be pruned
  (their files hold one hour of readings: a run that lists or opens them
  pays the per-file cost, and its row counts no longer match).

Both functions return the counts the benchmark's correctness checks need,
in closed form. The same seed always gives byte-identical files.
"""
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale factor (the fixture family's sizes).
SCALES = {
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150, documents=500,
                   embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, users=1500, documents=5000,
                  embeddings=2000),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
THINGS = ["widget", "bolt", "ring", "gear", "pipe", "valve", "panel", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

US_PER_DAY = 86_400_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, end, n):
    """Timestamps at midnight, uniform over [start, end] (numpy datetimes)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out_dir, seed, scale):
    """Write the ten query tables under ``out_dir``; return their row counts."""
    n = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    T = {}
    T["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    T["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    T["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    T["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{c} {t}" for c in COLORS for t in THINGS]
    T["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": rng.choice(names, npart),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    T["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    T["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * US_PER_DAY, ne))
    T["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # ~5% near-duplicates: an earlier document plus a marker word
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    T["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    T["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    for name, t in T.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in T.items()}


# ---- the building time-series lake ----------------------------------------

RELEASE_NAME = "comstock_amy2018_release_1"
RELEASE_YEAR = "2024"
DATA_PARTITION = "timeseries_individual_buildings/by_state"
STATE, OTHER_STATE = "AK", "HI"
UPGRADE, OTHER_UPGRADE = 0, 1
END_USES = [f"out_{fuel}_{use}_kwh" for fuel, uses in [
    ("electricity", ["cooling", "heating", "fans", "pumps", "lighting",
                     "plug_loads", "refrigeration", "water_systems"]),
    ("natural_gas", ["heating", "water_systems"]),
    ("district", ["cooling", "heating"])] for use in uses]
BUILDING_TYPES = {
    "Healthcare": ["Hospital", "Outpatient"],
    "Education": ["PrimarySchool", "SecondarySchool"],
    "Office": ["SmallOffice", "MediumOffice", "LargeOffice"],
    "Lodging": ["SmallHotel", "LargeHotel"],
    "Retail": ["RetailStandalone", "RetailStripmall"],
    "Food Service": ["QuickServiceRestaurant", "FullServiceRestaurant"],
    "Warehouse": ["Warehouse"],
}
COUNTIES = ["Anchorage Municipality", "Fairbanks North Star Borough",
            "Juneau City and Borough", "Ketchikan Gateway Borough",
            "Kenai Peninsula Borough", "Matanuska-Susitna Borough"]


def upgrade_str(u):
    return "baseline" if u == 0 else f"upgrade{u:02d}"


def lake_paths(root):
    return dict(
        base_partition=os.path.join(root, "data"),
        metadata_root_dir=os.path.join(root, "metadata"),
        data_root=os.path.join(root, "data", RELEASE_YEAR, RELEASE_NAME,
                               DATA_PARTITION))


def gen_lake(root, seed, buildings=1126, hours=24):
    """Write the lake under ``root``; return the ETL job config pieces and the
    counts an ``EtlRunner.run`` over the selected slice must report."""
    rng = np.random.default_rng([seed, 2])
    paths = lake_paths(root)
    slices = [(UPGRADE, STATE), (UPGRADE, OTHER_STATE), (OTHER_UPGRADE, STATE)]
    # building ids are per state (an upgrade re-simulates the same stock)
    ids = rng.choice(np.arange(100_000, 999_999), 2 * buildings, replace=False)
    state_ids = {STATE: np.sort(ids[:buildings]),
                 OTHER_STATE: np.sort(ids[buildings:])}
    day = np.datetime64("2018-01-01", "D") + int(rng.integers(0, 365))
    t0 = day.astype("datetime64[us]").astype(np.int64)
    readings = hours * 4

    def write_building(d, u, bldg, values):
        n = values.shape[1]
        ts = pa.array((t0 + np.arange(n) * 900_000_000).astype("datetime64[us]"))
        cols = {"timestamp": ts, "bldg_id": pa.array(np.full(n, bldg, dtype=np.int64))}
        for c, name in enumerate(END_USES):
            cols[name] = pa.array(values[c])
        path = os.path.join(d, f"{bldg}-{u}.parquet")
        pq.write_table(pa.table(cols), path, compression="snappy")
        return os.path.getsize(path)

    in_bytes = 0
    # values are drawn in a fixed order first; the writes (which release the
    # GIL) then run on a few threads without touching the generator
    with ThreadPoolExecutor(4) as pool:
        for (u, s) in slices:
            d = os.path.join(paths["data_root"], f"upgrade={u}", f"state={s}")
            os.makedirs(d, exist_ok=True)
            n = readings if (u, s) == (UPGRADE, STATE) else 4
            values = np.round(rng.gamma(2.0, 5.0, (buildings, len(END_USES), n)), 3)
            sizes = pool.map(write_building, [d] * buildings, [u] * buildings,
                             state_ids[s], values)
            if (u, s) == (UPGRADE, STATE):
                in_bytes = sum(sizes)
            else:
                list(sizes)
    groups = sorted(BUILDING_TYPES)
    group_counts = {}
    for s in (STATE, OTHER_STATE):
        nb = len(state_ids[s])
        g = rng.integers(0, len(groups), nb)
        types = [BUILDING_TYPES[groups[k]][int(rng.integers(0, len(BUILDING_TYPES[groups[k]])))]
                 for k in g]
        meta = pa.table({
            "bldg_id": state_ids[s].astype(np.int64),
            "in.state": [s] * nb,
            "in.county_name": [f"{s}, {COUNTIES[k]}" for k in rng.integers(0, len(COUNTIES), nb)],
            "in.comstock_building_type": types,
            "in.comstock_building_type_group": [groups[k] for k in g],
            "in.sqft": np.round(rng.lognormal(9.5, 1.0, nb), 0),
            "out.site_energy.total.energy_consumption_kwh": np.round(rng.gamma(2.0, 2e5, nb), 2),
        })
        path = os.path.join(paths["metadata_root_dir"], "by_state", f"state={s}", "parquet",
                            f"{s}_{upgrade_str(UPGRADE)}_metadata_and_annual_results.parquet")
        _write(meta, path)
        if s == STATE:
            in_bytes += os.path.getsize(path)
            group_counts = {grp: int((g == k).sum()) for k, grp in enumerate(groups)}
    job = {"release_name": RELEASE_NAME, "release_year": RELEASE_YEAR, "state": STATE,
           "upgrades": [UPGRADE], "metadata_root_dir": paths["metadata_root_dir"],
           "relative_metadata_prefix_type": 1}
    return {
        "config": {"settings": {"base_partition": paths["base_partition"],
                                "data_partition_in_release": DATA_PARTITION},
                   "job_specific": [job]},
        "files_in_lake": len(slices) * buildings,
        "files_listed": buildings,
        "rows_in": buildings * readings,
        "rows_out": buildings * hours,
        "metadata_listed": 1,
        "input_bytes": in_bytes,
        "buildings": buildings,
        "group_counts": group_counts,
        "top_rows": sum(min(500, c) for c in group_counts.values()),
    }


def generate(kind, out_dir, seed, size):
    """Generate once per (kind, seed, size) into ``out_dir`` — ``size`` is a
    scale factor for tables, ``{"buildings": n, "hours": h}`` (buildings per
    slice, hours of readings per file) for the lake. A second call
    with the same arguments reuses the files and returns the stored counts."""
    marker = os.path.join(out_dir, "_generated.json")
    key = {"kind": kind, "seed": seed, "size": size}
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        if stored["key"] == key:
            return stored["counts"]
        raise RuntimeError(f"{out_dir} holds other inputs: {stored['key']}")
    counts = gen_tables(out_dir, seed, size) if kind == "tables" else gen_lake(out_dir, seed, **size)
    with open(marker, "w") as f:
        json.dump({"key": key, "counts": counts}, f)
    return counts
