"""The three workloads: inputs, oracle answers, operations and checks.

A workload's ``prepare`` writes its inputs and computes every oracle
answer before timing starts. ``ops`` then yields the operations of one
pass as ``(name, fn)``; ``fn()`` runs the operation through ``call``
(which opens a span per layer call when tracing) and returns whether
the output matched its oracle.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil
from datetime import date, timedelta

import duckdb
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen


def _dataset(path: str) -> pads.Dataset:
    # Spark partition directories may start with "_" (``_shard_id=3``),
    # which pyarrow skips by default; its marker files must still go.
    return pads.dataset(path, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])


def _rows(path: str, columns: list[str] | None = None) -> list[dict]:
    return _dataset(path).to_table(columns=columns).to_pylist()


def _count(path: str) -> int:
    return _dataset(path).count_rows()


def _files_under(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


class Sinks:
    """In-process OpenSearch and AMQ transports that count and time
    what the program pushes through them."""

    def __init__(self) -> None:
        import time

        self._clock = time.perf_counter
        self.push_s = 0.0
        self.docs_pushed = 0
        self.push_failed = 0
        self.amq_docs: list[dict] = []

    def create_index(self, name: str, body: dict) -> None:
        pass

    def bulk_post(self, name: str, ndjson: str) -> int:
        t = self._clock()
        n = sum(1 for ln in ndjson.split("\n") if ln) // 2
        self.docs_pushed += n
        self.push_s += self._clock() - t
        return 0

    def amq(self, docs: list[dict]) -> None:
        t = self._clock()
        self.amq_docs.extend(docs)
        self.docs_pushed += len(docs)
        self.push_s += self._clock() - t

    def opensearch(self):
        from cmsspark_spark.sinks.osearch import OpenSearchSink, index_schema_body

        return OpenSearchSink(
            index_template="cms-rucio-summary",
            schema_body=index_schema_body({"Dataset": {"type": "keyword"}}),
            create_index=self.create_index,
            bulk_post=self.bulk_post,
            index_mod="M",
            batch_size=500,
        )


# ---------------------------------------------------------------------------
# cms_daily
# ---------------------------------------------------------------------------


class CmsDaily:
    """A week of CMS daily snapshots, of which a pass replays the
    ``days`` middle days in order (each read with a day of slack on
    both sides): sources, broadcast joins, aggregation and sink writes.
    One operation is one simulated day's job."""

    def __init__(self, scale: float, days: int = 2) -> None:
        self.scale = scale
        self.days = gen.DAYS[2 : 2 + days]

    def prepare(self, work: str, seed: int) -> dict:
        self.inp, self.out = f"{work}/in", f"{work}/out"
        stats = gen.write_cms_week(self.inp, seed, self.scale)
        self.oracle = {d: self._oracle(d) for d in self.days}
        return stats

    def _oracle(self, d: date) -> dict:
        from cmsspark_spark.jobs.cms_replicas import UNKNOWN_DATASET_TAG

        con = duckdb.connect()
        days = [d + timedelta(days=k) for k in (-1, 0, 1)]
        files = [f"{self.inp}/access/{x:%Y/%m/%d}/part-00000.json" for x in days if x in gen.DAYS]
        day_idx = (d - date(1970, 1, 1)).days
        n, rb = con.execute(f"""
            WITH a AS (
              SELECT data.file_lfn AS lfn, data.read_bytes AS rb
              FROM read_json({files!r}, format='newline_delimited')
              WHERE floor(data.ts / 86400) = {day_idx})
            SELECT count(*), sum(rb)
            FROM a
            JOIN read_csv('{self.inp}/dbs/dbs_files.csv', nullstr='null') f ON f.logical_file_name = a.lfn
            JOIN read_csv('{self.inp}/dbs/dbs_datasets.csv', nullstr='null') s ON s.dataset_id = f.dataset_id
        """).fetchone()
        r = f"{self.inp}/rucio/{d:%Y/%m/%d}"
        docs, cnt, size, acc = con.execute(f"""
            WITH c AS (SELECT * FROM '{r}/rucio_contents.parquet'),
            f2d AS (
              SELECT c1.child AS name, c2.parent AS dataset FROM c c1
              JOIN c c2 ON c1.parent = c2.child
              WHERE c1.child_type = 'FILE' AND c2.child_type = 'BLOCK'),
            fg AS (
              SELECT s.rse_type, coalesce(f2d.dataset, '{UNKNOWN_DATASET_TAG}') AS ds,
                     coalesce(p.bytes, d.bytes) AS sz,
                     greatest(p.accessed_at, d.accessed_at) AS acc
              FROM '{r}/rucio_replicas.parquet' p
              LEFT JOIN '{r}/rucio_dids.parquet' d USING (name)
              LEFT JOIN f2d USING (name)
              LEFT JOIN '{r}/rucio_rses.parquet' s USING (rse_id))
            SELECT count(DISTINCT (rse_type, ds)), count(*), sum(sz)::BIGINT, count(acc) FROM fg
        """).fetchone()
        con.close()
        return {"accesses": n, "gb_read": rb / 1e9, "docs": docs, "file_cnt": cnt,
                "size": size, "accessed": acc}

    def begin_pass(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.sinks = Sinks()

    def _specs(self):
        from pyspark.sql.types import (
            ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
        )

        from cmsspark_spark.sources.readers import Era, SourceSpec, VersionedSource

        def st(*cols):
            return StructType([StructField(n, t) for n, t in cols])

        S, L, D, I = StringType(), LongType(), DoubleType(), IntegerType()
        dims = {
            "dbs_datasets": st(("dataset_id", L), ("dataset", S), ("is_dataset_valid", I), ("data_tier_id", I),
                               ("dataset_access_type_id", I), ("acquisition_era_id", I), ("processing_era_id", I),
                               ("creation_date", D), ("create_by", S)),
            "dbs_files": st(("file_id", L), ("logical_file_name", S), ("block_id", L), ("dataset_id", L),
                            ("event_count", I), ("file_size", D), ("creation_date", D), ("adler32", S)),
            "dbs_access_types": st(("dataset_access_type_id", I), ("dataset_access_type", S)),
            "dbs_acquisition_eras": st(("acquisition_era_id", I), ("acquisition_era_name", S)),
            "dbs_processing_eras": st(("processing_era_id", I), ("processing_version", S)),
            "dbs_mod_configs": st(("mc_dataset_id", L), ("mc_output_mod_config_id", L)),
            "dbs_output_configs": st(("oc_output_mod_config_id", L), ("oc_release_version_id", I)),
            "dbs_release_versions": st(("r_release_version_id", I), ("r_release_version", S)),
        }
        dim_specs = {
            n: SourceSpec(n, "csv", f"{self.inp}/dbs/{n}.csv", schema=s) for n, s in dims.items()
        }
        access = st(("file_lfn", S), ("site_name", S), ("user_dn", S), ("read_bytes", L), ("ts", L))
        access_src = VersionedSource("access_events", [Era(
            gen.WEEK0 - timedelta(days=365),
            SourceSpec("access_events", "json", f"{self.inp}/access/%Y/%m/%d/*.json",
                       schema=st(("data", access)), flatten="data.*"),
        )])
        condor = st(("data", st(
            ("GlobalJobId", S), ("RecordTime", D), ("Site", S), ("Status", S), ("RequestCpus", I),
            ("CpuTimeHr", D), ("WallClockHr", D), ("CoreHr", D), ("Type", S), ("TaskType", S),
            ("CRAB_DataBlock", S), ("DESIRED_CMSDataset", S), ("Campaign", S), ("CRAB_UserHN", S),
            ("ExitCode", I), ("KEvents", D))))
        condor_spec = SourceSpec("condor_jobs", "json", f"{self.inp}/condor/%Y/%m/%d/*.json", schema=condor)
        step = st(("name", S), ("site", S), ("jobCPU", D), ("jobTime", D), ("threads", I))
        wma_spec = SourceSpec("wma_reports", "avro", f"{self.inp}/wma/%Y/%m/%d/*.avro", schema=st(
            ("wmaid", S), ("task", S), ("meta_ts", D), ("steps", ArrayType(step))))
        return dim_specs, access_src, condor_spec, wma_spec

    def ops(self, spark, call):
        import pyspark.sql.functions as F

        from cmsspark_spark.jobs import cms_replicas as R
        from cmsspark_spark.jobs import rucio_summary
        from cmsspark_spark.operators.incremental import recompute_recent_partitions
        from cmsspark_spark.sources.readers import read_source

        dim_specs, access_src, condor_spec, wma_spec = self._specs()

        def day_job(d: date) -> bool:
            day = f"{d:%Y-%m-%d}"
            day_idx = (d - date(1970, 1, 1)).days
            dims = {n: call("sources", f"read_source:{n}", read_source, spark, s, register=False)
                    for n, s in dim_specs.items()}
            access = call("sources", "VersionedSource.read:access_events", access_src.read,
                          spark, d, day_delta=1, register=False)
            access = access.filter(F.floor(F.col("ts") / 86400) == day_idx)
            condor = call("sources", "read_source:condor_jobs", read_source,
                          spark, condor_spec, d, day_delta=1, register=False)
            condor = condor.filter(F.floor(F.col("data.RecordTime") / 86400) == day_idx)
            wma = call("sources", "read_source:wma_reports", read_source, spark, wma_spec, d, register=False)

            def flagship(name, build):
                def compute(_spark, _lo, _hi):
                    df = call("jobs.cms_replicas", name, build)
                    return df if "day" in df.columns else df.withColumn("day", F.lit(day))

                call("operators.incremental", f"recompute_recent_partitions:{name}",
                     recompute_recent_partitions, spark, compute, f"{self.out}/{name}", day, day)

            flagship("dataset_popularity",
                     lambda: R.dataset_popularity(access, dims["dbs_files"], dims["dbs_datasets"]))
            flagship("condor_cpu_efficiency", lambda: R.condor_cpu_efficiency(condor))
            flagship("hpc_core_hours_daily", lambda: R.hpc_core_hours_daily(condor, day, day))
            flagship("wmarchive_step_metrics", lambda: R.wmarchive_step_metrics(wma))
            flagship("dbs_condor_agg", lambda: R.dbs_condor_agg(
                condor, dims["dbs_datasets"], dims["dbs_files"], dims["dbs_access_types"],
                dims["dbs_acquisition_eras"], dims["dbs_processing_eras"], dims["dbs_mod_configs"],
                dims["dbs_output_configs"], dims["dbs_release_versions"], date=f"{d:%Y%m%d}")["dataset"])

            src = call("sources", "rucio_summary.load_sources", rucio_summary.load_sources,
                       spark, f"{self.inp}/rucio/{d:%Y/%m/%d}")
            n_amq = len(self.sinks.amq_docs)
            call("jobs.rucio_summary", "rucio_summary.run", rucio_summary.run, spark, src,
                 f"{self.out}/rucio_summary", day, osearch_sink=self.sinks.opensearch(),
                 amq_transport=self.sinks.amq)
            return self._check(d, day, self.sinks.amq_docs[n_amq:])

        for d in self.days:
            yield f"day:{d}", lambda d=d: day_job(d)

    def _check(self, d: date, day: str, docs: list[dict]) -> bool:
        want = self.oracle[d]
        pop = _rows(f"{self.out}/dataset_popularity/day={day}")
        if sum(r["n_accesses"] for r in pop) != want["accesses"]:
            return False
        if abs(sum(r["gb_read"] for r in pop) - want["gb_read"]) > 1e-4 * (len(pop) + 1):
            return False
        got = (
            len(docs),
            sum(x.get("FileCnt", 0) for x in docs),
            sum(x.get("Sum", 0) for x in docs),
            sum(x.get("AccessedFileCnt", 0) for x in docs),
        )
        if got != (want["docs"], want["file_cnt"], want["size"], want["accessed"]):
            return False
        return all(
            _count(f"{self.out}/{n}/day={day}") > 0
            for n in ("condor_cpu_efficiency", "hpc_core_hours_daily", "wmarchive_step_metrics",
                      "dbs_condor_agg")
        )

    def files_written(self) -> int:
        return _files_under(self.out)


# ---------------------------------------------------------------------------
# corpus_clean
# ---------------------------------------------------------------------------


class CorpusClean:
    """The training-data jobs: clean, QA, then split assignment in
    batch and as increments."""

    def __init__(self, n_docs: int, n_increments: int = 3, inc_docs: int = 200) -> None:
        self.n_docs, self.n_increments, self.inc_docs = n_docs, n_increments, inc_docs

    def prepare(self, work: str, seed: int) -> dict:
        self.inp, self.out = f"{work}/in", f"{work}/out"
        stats = gen.write_corpus(self.inp, seed, self.n_docs, self.n_increments, self.inc_docs)
        self.input_ids = set(pq.read_table(f"{self.inp}/documents.parquet", columns=["doc_id"])
                             .column("doc_id").to_pylist())
        return stats

    def begin_pass(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def ops(self, spark, call):
        from cmsspark_spark.jobs import assign_splits, clean_corpus, corpus_qa

        def clean() -> bool:
            summary = call("jobs.clean_corpus", "clean_corpus.run", clean_corpus.run, spark, self.inp,
                           f"{self.out}/clean", span_window=12, near_dup_policy="min_id", snapshot=True)
            rows = call("dataframe", "collect", summary.collect)
            return self.check_funnel(f"{self.out}/clean", sum(r["n_docs"] for r in rows))

        def qa() -> bool:
            call("jobs.corpus_qa", "corpus_qa.run", corpus_qa.run, spark, self.inp, f"{self.out}/qa")
            return len(glob.glob(f"{self.out}/qa/**/*.html", recursive=True)) > 0

        def batch() -> bool:
            call("jobs.assign_splits", "assign_splits.run_batch", assign_splits.run_batch,
                 spark, self.inp, f"{self.out}/state")
            ids = [r["doc_id"] for r in _rows(f"{self.out}/state/splits", ["doc_id"])]
            return len(ids) == len(set(ids)) == self.n_docs

        def increment(k: int) -> bool:
            inc = call("sources", "spark.read.parquet", spark.read.parquet, f"{self.inp}/increment_{k}.parquet")
            call("jobs.assign_splits", "assign_splits.run_increment", assign_splits.run_increment,
                 spark, inc, f"{self.out}/state")
            ids = [r["doc_id"] for r in _rows(f"{self.out}/state/splits", ["doc_id"])]
            return len(ids) == len(set(ids)) == self.n_docs + (k + 1) * self.inc_docs

        yield "clean_corpus", clean
        yield "corpus_qa", qa
        yield "assign_splits.batch", batch
        for k in range(self.n_increments):
            yield f"assign_splits.increment{k}", lambda k=k: increment(k)

    def check_funnel(self, out: str, kept: int) -> bool:
        """Kept plus removed equals the input, and the shard manifest
        and the shards hold exactly the kept documents."""
        kept_ids = [r["doc_id"] for r in _rows(f"{out}/shards", ["doc_id"])]
        removed = self.input_ids - set(kept_ids)
        manifest = sum(
            int(row["n_rows"])
            for f in glob.glob(f"{out}/manifest/*.csv")
            for row in csv.DictReader(open(f))
        )
        return (
            0 < kept == len(kept_ids) == len(set(kept_ids)) == manifest
            and set(kept_ids) <= self.input_ids
            and kept + len(removed) == len(self.input_ids)
        )

    def files_written(self) -> int:
        return _files_under(self.out)


# ---------------------------------------------------------------------------
# analyst_session
# ---------------------------------------------------------------------------

#: The session template. The dedup, BM25 and ANN serves sit at fixed
#: slots, so every seed does the same heavy work in the same context;
#: the BM25 repeat reuses the first request's memo state. Each ``None``
#: slot takes one request from ``CHEAP``. Warm ``rollup_revenue``
#: requests are three quarters of the session, so the median request is
#: one of them whatever the seed; with a second cheap query as common,
#: the median fell between the two and jumped by a quarter from seed to
#: seed.
TEMPLATE = [
    None, None, None, "dedup_minhash_lsh", None, None, None, "bm25_more_like_this",
    None, None, None, "bm25_more_like_this", None, None, None, "ann_ivf_topk",
    None, None, None, None,
]
CHEAP = ["rollup_revenue"] * 15 + ["rolling_7day_revenue"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def session_order(template: list, cheap: list[str], seed: int) -> list[str]:
    """The request sequence: the seed shuffles ``cheap`` into the free
    slots of ``template``."""
    if len(cheap) != template.count(None):
        raise ValueError("one cheap request per free slot")
    fill = list(cheap)
    random.Random(seed).shuffle(fill)
    rest = iter(fill)
    return [q if q is not None else next(rest) for q in template]


class AnalystSession:
    """One closed-loop client sending registry queries over a fixed,
    read-only dataset. The seed fixes only the order of the cheap
    requests."""

    def __init__(self, sf: float, template: list = TEMPLATE, cheap: list[str] = CHEAP) -> None:
        self.sf, self.template, self.cheap = sf, template, cheap

    def prepare(self, work: str, seed: int) -> dict:
        from cmsspark_spark.queries import ORACLES
        from tests.conftest import canonical_rows

        # The dataset does not depend on the seed: build it once per
        # checkout and reuse it read-only.
        cache = os.path.join(os.path.dirname(work), f"analyst_sf{self.sf}")
        if not os.path.exists(f"{cache}/stats.json"):
            tmp = cache + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            stats = gen.write_tpch(tmp, 42, self.sf)
            with open(f"{tmp}/stats.json", "w") as fh:
                json.dump(stats, fh)
            shutil.rmtree(cache, ignore_errors=True)
            os.rename(tmp, cache)
        self.data = cache
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cache}/{t}.parquet')")
        self.requests = session_order(self.template, self.cheap, seed)
        self.oracle = {}
        for q in dict.fromkeys(self.requests):
            res = con.execute(ORACLES[q])
            self.oracle[q] = canonical_rows([c[0] for c in res.description], res.fetchall())
        con.close()
        with open(f"{cache}/stats.json") as fh:
            return json.load(fh)

    def begin_pass(self, spark) -> None:
        from cmsspark_spark.operators.memo import invalidate_session_memos

        invalidate_session_memos()
        spark.catalog.clearCache()

    def ops(self, spark, call):
        from cmsspark_spark.queries import QUERIES
        from tests.conftest import canonical_rows

        def request(q: str) -> bool:
            df = call("queries", q, QUERIES[q], spark, self.data)
            rows = call("dataframe", "collect", df.collect)
            return canonical_rows(df.columns, [tuple(r) for r in rows]) == self.oracle[q]

        for i, q in enumerate(self.requests):
            yield f"request{i}:{q}", lambda q=q: request(q)

    def files_written(self) -> int:
        return 0
