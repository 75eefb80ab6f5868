"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (seed, table, scale): each table draws
from its own ``numpy`` generator seeded with ``[seed, table_id]``, and
every writer emits rows in a fixed order, so the same seed gives
byte-identical files.

- ``write_tpch``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, in the column types and value
  domains of the repository's read-only test tables (TESTDATA.md;
  measured from their sf0.1 parquet: 30-word vocabulary plus the planted ``dup`` token,
  10-100 words per document, ~0.16% exact copies, unit-norm 64-d
  embeddings with 10 labels).
- ``write_corpus``: a ``documents`` table with planted exact and near
  duplicates, plus arriving increments for split assignment.
- ``write_cms_week``: a week of CMS daily snapshots following
  FIXTURES.md: DBS dims as CSV dumps with literal ``null``, access and
  condor streams as JSON envelopes under ``YYYY/MM/DD``, WMArchive
  reports as Avro, Rucio dumps as parquet. 10% of access and replica
  file names dangle; ACCESSED_AT is 40% null, BYTES 2%, RequestCpus
  10%, acquisition-era FKs 5%; event times fall within their day ±1 h.

Each writer returns ``{table: {"rows": n, "bytes": b}}``.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

TIERS = ["RAW", "AOD", "MINIAOD", "NANOAOD", "GEN-SIM", "ALCARECO", "USER", "SKIM"]
COUNTRIES = ["CH", "US", "DE", "FR", "IT", "UK", "ES", "RU"]
SITE_NAMES = ["CERN", "FNAL", "DESY", "IN2P3", "CNAF", "RAL", "PIC", "JINR"]
HPC_SITES = ["T3_US_NERSC", "T3_US_ANL", "T1_IT_CNAF", "T2_DE_RWTH"]
WEEK0 = date(2024, 1, 1)
DAYS = [WEEK0 + timedelta(days=i) for i in range(7)]


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) * 31**i for i, c in enumerate(table)) % 2**31])


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _parquet(path: str, cols: dict) -> dict:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(cols)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": _size(path)}


def _ts_us(offsets_us: np.ndarray, base: date) -> pa.Array:
    start = (base - date(1970, 1, 1)).days * 86_400_000_000
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _plant_dups(rng: np.random.Generator, texts: list[str], exact: float, near: float) -> None:
    """Overwrite a seeded slice of docs with exact copies and near
    copies (an earlier doc plus the ``dup`` token) of earlier docs."""
    n = len(texts)
    for i in rng.choice(np.arange(1, n), int(n * exact), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(np.arange(1, n), int(n * near), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"


def _documents(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    texts = _texts(rng, n)
    _plant_dups(rng, texts, exact=0.0016, near=0.05)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


# ---------------------------------------------------------------------------
# analyst_session: TPC-H-ish star schema + events + documents + embeddings
# ---------------------------------------------------------------------------


def write_tpch(out: str, seed: int, sf: float) -> dict:
    """The star schema at scale factor ``sf`` (sf0.1 = 600k lineitems)."""
    stats = {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))

    def p(name: str, cols: dict) -> None:
        stats[name] = _parquet(f"{out}/{name}.parquet", cols)

    p("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    p("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    p("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ).tolist(),
    })
    r = _rng(seed, "supplier")
    p("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    adj = ["red", "blue", "green", "hot", "new", "large", "small", "old"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "nut", "screw", "gear"]
    keys = np.arange(n_part, dtype=np.int64)
    p("part", {
        "p_partkey": pa.array(keys),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part).tolist(),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    odays = r.integers(0, (date(2001, 8, 1) - date(1995, 1, 1)).days + 1, n_ord)
    p("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": r.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_us(odays * 86_400_000_000, date(1995, 1, 1)),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okeys)
    linenr = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    ship = np.repeat(odays, per) + r.integers(1, 122, n_li)
    p("lineitem", {
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenr.astype(np.int32)),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["N", "R", "A"], n_li).tolist(),
        "l_linestatus": r.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts_us(ship * 86_400_000_000, date(1995, 1, 1)),
    })
    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    p("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts_us(ts, date(2024, 1, 1)),
        "user_id": pa.array(r.integers(0, max(10, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": r.choice(["signup", "purchase", "view", "click", "error"], n_ev).tolist(),
        "value": np.round(r.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    p("documents", _documents(_rng(seed, "documents"), n_docs))
    r = _rng(seed, "embeddings")
    vec = r.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    p("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec).astype(np.int32)),
    })
    return stats


# ---------------------------------------------------------------------------
# corpus_clean: documents + arriving increments
# ---------------------------------------------------------------------------


def write_corpus(out: str, seed: int, n_docs: int, n_increments: int, inc_docs: int) -> dict:
    """``{out}/documents.parquet`` plus ``{out}/increment_{k}.parquet``:
    new doc ids, some of them near copies of corpus docs, so increments
    inherit splits from existing clusters."""
    stats = {"documents": _parquet(f"{out}/documents.parquet", _documents(_rng(seed, "corpus"), n_docs))}
    corpus = pq.read_table(f"{out}/documents.parquet").column("text").to_pylist()
    for k in range(n_increments):
        r = _rng(seed, f"increment{k}")
        cols = _documents(r, inc_docs, first_id=n_docs + k * inc_docs)
        texts = cols["text"].to_pylist()
        for i in r.choice(inc_docs, inc_docs // 5, replace=False):
            texts[i] = corpus[int(r.integers(0, n_docs))] + " dup"
        cols["text"] = pa.array(texts)
        cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
        stats[f"increment_{k}"] = _parquet(f"{out}/increment_{k}.parquet", cols)
    return stats


# ---------------------------------------------------------------------------
# cms_daily: a week of CMS daily snapshots
# ---------------------------------------------------------------------------


def _site(i: np.ndarray) -> list[str]:
    return [
        f"T{1 + k % 3}_{COUNTRIES[k % 8]}_{SITE_NAMES[(k * 3) % 8]}" + ("_Disk" if k % 4 == 0 else "")
        for k in i
    ]


def _dataset_name(i: int) -> str:
    return f"/Primary{i % 40}/Proc{i % 7}-v{i % 3}/{TIERS[i % 8]}"


def _lfn(i: int) -> str:
    return f"/store/data/Run2024/Primary{i % 40}/file_{i}.root"


def _csv(path: str, header: list[str], rows) -> dict:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w") as fh:
        fh.write(",".join(header) + "\n")
        for row in rows:
            fh.write(",".join("null" if v is None else str(v) for v in row) + "\n")
            n += 1
    return {"rows": n, "bytes": _size(path)}


def _jsonl(path: str, docs) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w") as fh:
        for d in docs:
            fh.write(json.dumps(d, separators=(",", ":")) + "\n")
            n += 1
    return n


def _day_dir(root: str, d: date) -> str:
    return f"{root}/{d:%Y/%m/%d}"


def _epoch(d: date) -> int:
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp())


WMA_SCHEMA = {
    "type": "record",
    "name": "fwjr",
    "fields": [
        {"name": "wmaid", "type": "string"},
        {"name": "task", "type": "string"},
        {"name": "meta_ts", "type": "double"},
        {
            "name": "steps",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "step",
                    "fields": [
                        {"name": "name", "type": "string"},
                        {"name": "site", "type": "string"},
                        {"name": "jobCPU", "type": ["null", "double"]},
                        {"name": "jobTime", "type": ["null", "double"]},
                        {"name": "threads", "type": "int"},
                    ],
                },
            },
        },
    ],
}


def write_cms_week(out: str, seed: int, scale: float) -> dict:
    """Seven daily snapshots under ``out``. ``scale`` multiplies the
    fact tables and the file catalog (scale 1 = 20k files, 30k
    accesses, 12k condor records and 20k replicas per day)."""
    from cmsspark_spark.sources.avro_io import write_container

    n_ds, n_blocks = 400, 1600
    n_files = int(20_000 * scale)
    n_access, n_condor = int(30_000 * scale), int(12_000 * scale)
    n_wma, n_rep = int(2_000 * scale), int(20_000 * scale)
    stats: dict = {}

    r = _rng(seed, "dbs_datasets")
    era_null = r.random(n_ds) < 0.05
    stats["dbs_datasets"] = _csv(
        f"{out}/dbs/dbs_datasets.csv",
        ["dataset_id", "dataset", "is_dataset_valid", "data_tier_id", "dataset_access_type_id",
         "acquisition_era_id", "processing_era_id", "creation_date", "create_by"],
        (
            (i + 1, _dataset_name(i), 1 if i % 10 else 0, i % 8 + 1, i % 4 + 1,
             None if era_null[i] else i % 6 + 1, i % 4 + 1, float(_epoch(WEEK0) - 86400 * (i % 300)),
             f"/DC=ch/DC=cern/OU=Users/CN=user{i % 30}/CN=111/CN=First Last{i % 30}")
            for i in range(n_ds)
        ),
    )
    r = _rng(seed, "dbs_files")
    ev = r.integers(100, 5100, n_files)
    fsize = r.integers(1, 4_000_000_000, n_files)
    stats["dbs_files"] = _csv(
        f"{out}/dbs/dbs_files.csv",
        ["file_id", "logical_file_name", "block_id", "dataset_id", "event_count", "file_size",
         "creation_date", "adler32"],
        (
            (i + 1, _lfn(i), i % n_blocks + 1, (i % n_blocks) % n_ds + 1, int(ev[i]),
             float(fsize[i]), float(_epoch(WEEK0) - 86400 * (i % 200)), f"{(i * 2654435761) % (1 << 32):08x}")
            for i in range(n_files)
        ),
    )
    small = {
        "dbs_data_tiers": (["data_tier_id", "data_tier_name"], [(i + 1, t) for i, t in enumerate(TIERS)]),
        "dbs_access_types": (["dataset_access_type_id", "dataset_access_type"],
                             [(1, "VALID"), (2, "DELETED"), (3, "INVALID"), (4, "PRODUCTION")]),
        "dbs_acquisition_eras": (["acquisition_era_id", "acquisition_era_name"], [(e, f"Era{e}") for e in range(1, 7)]),
        "dbs_processing_eras": (["processing_era_id", "processing_version"], [(p, f"v{p}") for p in range(1, 5)]),
        "dbs_mod_configs": (["mc_dataset_id", "mc_output_mod_config_id"],
                            [(d, d) for d in range(1, n_ds + 1)] + [(d, n_ds + d) for d in range(5, n_ds + 1, 5)]),
        "dbs_output_configs": (["oc_output_mod_config_id", "oc_release_version_id"],
                               [(c, c % 10 + 1) for c in range(1, 2 * n_ds + 1)]),
        "dbs_release_versions": (["r_release_version_id", "r_release_version"],
                                 [(v, f"CMSSW_14_0_{v}") for v in range(1, 11)]),
    }
    for name, (header, rows) in small.items():
        stats[name] = _csv(f"{out}/dbs/{name}.csv", header, rows)

    # Rucio dims shared by every daily dump directory.
    rucio_dims = f"{out}/rucio_dims"
    rses = [
        (f"{i:032x}", _site([i])[0] + ("_Tape" if i % 10 == 0 else ""), "TAPE" if i % 10 == 0 else "DISK")
        for i in range(40)
    ]
    stats["rucio_rses"] = _parquet(f"{rucio_dims}/rucio_rses.parquet", {
        "rse_id": [x[0] for x in rses], "rse": [x[1] for x in rses], "rse_type": [x[2] for x in rses],
    })
    contents_child, contents_parent, contents_type = [], [], []
    for i in range(n_files):
        contents_child.append(_lfn(i))
        contents_parent.append(f"{_dataset_name((i % n_blocks) % n_ds)}#{i % n_blocks:08x}")
        contents_type.append("FILE")
    for b in range(n_blocks):
        contents_child.append(f"{_dataset_name(b % n_ds)}#{b:08x}")
        contents_parent.append(_dataset_name(b % n_ds))
        contents_type.append("BLOCK")
    stats["rucio_contents"] = _parquet(f"{rucio_dims}/rucio_contents.parquet", {
        "child": contents_child, "parent": contents_parent, "child_type": contents_type,
    })
    stats["dbs_files_parquet"] = _parquet(f"{rucio_dims}/dbs_files.parquet", {
        "file_id": pa.array(np.arange(1, n_files + 1, dtype=np.int64)),
        "logical_file_name": [_lfn(i) for i in range(n_files)],
        "dataset_id": pa.array((np.arange(n_files) % n_blocks) % n_ds + 1, pa.int64()),
        "file_size": fsize.astype(np.float64),
    })
    stats["dbs_datasets_parquet"] = _parquet(f"{rucio_dims}/dbs_datasets.parquet", {
        "dataset_id": pa.array(np.arange(1, n_ds + 1, dtype=np.int64)),
        "dataset": [_dataset_name(i) for i in range(n_ds)],
        "is_dataset_valid": pa.array([1 if i % 10 else 0 for i in range(n_ds)], pa.int32()),
        "data_tier_id": pa.array([i % 8 + 1 for i in range(n_ds)], pa.int32()),
        "acquisition_era_id": pa.array([None if era_null[i] else i % 6 + 1 for i in range(n_ds)], pa.int32()),
    })
    stats["dbs_data_tiers_parquet"] = _parquet(f"{rucio_dims}/dbs_data_tiers.parquet", {
        "data_tier_id": pa.array(range(1, 9), pa.int32()), "data_tier_name": TIERS,
    })
    stats["dbs_acquisition_eras_parquet"] = _parquet(f"{rucio_dims}/dbs_acquisition_eras.parquet", {
        "acquisition_era_id": pa.array(range(1, 7), pa.int32()),
        "acquisition_era_name": [f"Era{e}" for e in range(1, 7)],
    })

    users = [f"/DC=ch/DC=cern/OU=Users/CN=user{u}/CN=222/CN=Person {u}" for u in range(80)]
    totals = {k: {"rows": 0, "bytes": 0} for k in ("access_events", "condor_jobs", "wma_reports", "rucio_replicas", "rucio_dids")}
    for di, d in enumerate(DAYS):
        t0 = _epoch(d)
        # --- access stream (JSON envelope) ---
        r = _rng(seed, f"access{di}")
        f_idx = r.integers(0, n_files, n_access)
        dangle = r.random(n_access) < 0.10
        ts = t0 + r.integers(-3600, 86400 + 3600, n_access)
        rb = r.integers(0, 2_000_000_000, n_access)
        sites = _site(r.integers(0, 64, n_access))
        uu = r.integers(0, len(users), n_access)
        path = f"{_day_dir(out + '/access', d)}/part-00000.json"
        _jsonl(path, (
            {"data": {"file_lfn": f"/store/unknown/a_{di}_{k}.root" if dangle[k] else _lfn(int(f_idx[k])),
                      "site_name": sites[k], "user_dn": users[uu[k]], "read_bytes": int(rb[k]),
                      "ts": int(ts[k])},
             "metadata": {"_id": f"acc-{di}-{k}", "timestamp": int(ts[k]) * 1000}}
            for k in range(n_access)
        ))
        totals["access_events"]["rows"] += n_access
        totals["access_events"]["bytes"] += _size(path)
        # --- condor stream (JSON envelope) ---
        r = _rng(seed, f"condor{di}")
        wall = r.uniform(0.5, 48.0, n_condor)
        cpus = r.integers(1, 9, n_condor)
        cpus_null = r.random(n_condor) < 0.10
        eff = r.uniform(0.2, 1.0, n_condor)
        rec = t0 + r.integers(-3600, 86400 + 3600, n_condor)
        dup = r.random(n_condor) < 0.05
        ds_i = r.integers(0, n_ds + n_ds // 9, n_condor)
        kev = np.round(r.uniform(0.0, 800.0, n_condor), 1)
        sites = _site(r.integers(0, 64, n_condor))
        status = r.choice(["Completed", "Completed", "Completed", "Running", "Removed"], n_condor)
        path = f"{_day_dir(out + '/condor', d)}/part-00000.json"

        def condor_doc(k: int) -> dict:
            c = None if cpus_null[k] else int(cpus[k])
            gid = f"crab_{max(di - 1, 0)}_{k}" if dup[k] else f"crab_{di}_{k}"
            return {
                "data": {
                    "GlobalJobId": gid, "RecordTime": float(rec[k] + k * 1e-3),
                    "Site": HPC_SITES[k % 4] if k % 13 == 0 else sites[k],
                    "Status": str(status[k]), "RequestCpus": c,
                    "CpuTimeHr": round(float(wall[k] * eff[k] * (c or 1)), 4),
                    "WallClockHr": round(float(wall[k]), 4),
                    "CoreHr": round(float(wall[k] * (c or 1)), 4),
                    "Type": "analysis" if k % 3 else "production",
                    "TaskType": "analysis" if k % 2 else "harvest",
                    "CRAB_DataBlock": f"{_dataset_name(int(ds_i[k]) % n_ds)}#{k % n_blocks:08x}",
                    "DESIRED_CMSDataset": _dataset_name(int(ds_i[k])) if ds_i[k] < n_ds else f"/Unknown{k}/NoProc-v0/NONE",
                    "Campaign": f"Campaign{k % 12}", "CRAB_UserHN": f"user{k % 25}",
                    "ExitCode": 0 if k % 4 else (8021 if k % 8 else 134),
                    "KEvents": None if k % 13 == 0 else float(kev[k]),
                },
                "metadata": {"_id": f"condor-{di}-{k}", "timestamp": int(rec[k]) * 1000},
            }

        _jsonl(path, (condor_doc(k) for k in range(n_condor)))
        totals["condor_jobs"]["rows"] += n_condor
        totals["condor_jobs"]["bytes"] += _size(path)
        # --- WMArchive reports (Avro) ---
        r = _rng(seed, f"wma{di}")
        cpu = np.round(r.uniform(1.0, 40.0, n_wma), 3)
        records = []
        for k in range(n_wma):
            steps = []
            for s in range(k % 3 + 1):
                steps.append({
                    "name": ["cmsRun1", "stageOut1", "logArch1"][(s + k) % 3],
                    "site": _site([k + s])[0],
                    "jobCPU": None if k % 17 == 0 else float(cpu[k] + s),
                    "jobTime": float(cpu[k] + s + 10), "threads": k % 4 + 1,
                })
            records.append({"wmaid": f"wma_{di}_{k:06d}", "task": f"/task_{k % 25}/Step1",
                            "meta_ts": float(t0 + k), "steps": steps})
        path = f"{_day_dir(out + '/wma', d)}/part-00000.avro"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_container(path, WMA_SCHEMA, records)
        totals["wma_reports"]["rows"] += n_wma
        totals["wma_reports"]["bytes"] += _size(path)
        # --- Rucio daily dump (parquet) ---
        r = _rng(seed, f"rucio{di}")
        f_idx = r.integers(0, n_files, n_rep)
        names = [
            f"/store/unknown/r_{di}_{k}.root" if k % 10 == 7 else _lfn(int(f_idx[k])) for k in range(n_rep)
        ]
        acc = (t0 - r.integers(0, 90 * 86400, n_rep)).astype(np.float64)
        acc_null = r.random(n_rep) < 0.40
        byt = r.integers(1, 4_000_000_000, n_rep).astype(np.float64)
        byt_null = r.random(n_rep) < 0.02
        ddir = _day_dir(out + "/rucio", d)
        rep = _parquet(f"{ddir}/rucio_replicas.parquet", {
            "scope": ["cms"] * n_rep, "name": names,
            "rse_id": [f"{int(x):032x}" for x in r.integers(0, 40, n_rep)],
            "bytes": pa.array(np.where(byt_null, np.nan, byt), from_pandas=True),
            "accessed_at": pa.array(np.where(acc_null, np.nan, acc), from_pandas=True),
            "created_at": (t0 - r.integers(0, 400 * 86400, n_rep)).astype(np.float64),
        })
        # DIDs: one per catalog file; 30% disagree with the replica side.
        did_acc = (t0 - r.integers(0, 90 * 86400, n_files)).astype(np.float64)
        dids = _parquet(f"{ddir}/rucio_dids.parquet", {
            "scope": ["cms"] * n_files, "name": [_lfn(i) for i in range(n_files)],
            "did_type": ["FILE"] * n_files,
            "accessed_at": pa.array(np.where(r.random(n_files) < 0.4, np.nan, did_acc), from_pandas=True),
            "created_at": (t0 - r.integers(0, 400 * 86400, n_files)).astype(np.float64),
            "bytes": fsize.astype(np.float64),
        })
        for k, s in (("rucio_replicas", rep), ("rucio_dids", dids)):
            totals[k]["rows"] += s["rows"]
            totals[k]["bytes"] += s["bytes"]
        for name in ("rucio_rses", "rucio_contents", "dbs_files", "dbs_datasets",
                     "dbs_data_tiers", "dbs_acquisition_eras"):
            os.symlink(os.path.relpath(f"{rucio_dims}/{name}.parquet", ddir), f"{ddir}/{name}.parquet")
    stats.update(totals)
    return stats
