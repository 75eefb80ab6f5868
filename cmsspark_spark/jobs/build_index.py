"""Retrieval-index maintenance CLI: append / serve / compact / report
for the incrementally-maintained BM25 index (operators/retrieval.py) —
the operational form of the ``bm25_index_incremental_serve`` /
``bm25_index_maxscore_serve`` registry queries, wired as the job a
data engineer schedules per corpus snapshot and per ingest batch.

Run:
    python -m cmsspark_spark.jobs.build_index append \\
        --docs /data/increment.parquet --index /data/bm25_index
    python -m cmsspark_spark.jobs.build_index serve \\
        --index /data/bm25_index --query-max-id 5 --k 10 \\
        [--mode maxscore] [--out /tmp/ranked]
    python -m cmsspark_spark.jobs.build_index compact --index /data/bm25_index
    python -m cmsspark_spark.jobs.build_index report  --index /data/bm25_index

``append`` tokenizes only the given docs (cost ∝ increment) and never
reads existing state; ``compact`` folds the per-commit partials —
schedule it like OPTIMIZE, after commit count grows. The append/serve
split is the train-once/serve-increment discipline: daily ingest runs
``append``, retrieval consumers run ``serve`` against the same
directory and always see exactly the committed corpus.
"""

from __future__ import annotations

import argparse

from cmsspark_spark.operators import retrieval as R
from cmsspark_spark.session import get_spark
from cmsspark_spark.sources.readers import read_parquet


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    a = sub.add_parser("append")
    a.add_argument("--docs",
                   help="parquet path of the doc increment")
    a.add_argument("--snapshot-table", default=None,
                   help="append the CHANGES of a snapshot table since "
                        "the index's recorded pin (first append: the "
                        "pinned version's full content) instead of "
                        "--docs; the index records the consumed "
                        "version, so scheduled appends are "
                        "version-addressed and replay-safe")
    a.add_argument("--snapshot-version", type=int, default=None,
                   help="with --snapshot-table: consume up to this "
                        "version (default: latest)")
    a.add_argument("--index", required=True)
    a.add_argument("--id-col", default="doc_id")
    a.add_argument("--text-col", default="text")
    a.add_argument("--champions", type=int, default=16)

    s = sub.add_parser("serve")
    s.add_argument("--index", required=True)
    s.add_argument("--query-max-id", type=int, default=5)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--mode", default="exact",
                   choices=["exact", "maxscore", "blockmax"])
    s.add_argument("--out", default=None)

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)
    c.add_argument("--champions", type=int, default=16)

    r = sub.add_parser("report")
    r.add_argument("--index", required=True)

    args = ap.parse_args(argv)
    spark = get_spark("build-index")
    if args.cmd == "append":
        if (args.docs is None) == (args.snapshot_table is None):
            ap.error("pass exactly one of --docs / --snapshot-table")
        if args.snapshot_table is not None:
            out = R.append_bm25_index_from_snapshot(
                spark, args.snapshot_table, args.index,
                to_version=args.snapshot_version,
                id_col=args.id_col, text_col=args.text_col,
                champions=args.champions,
            )
            print(out)
        else:
            R.append_bm25_index(
                read_parquet(spark, args.docs), args.index,
                id_col=args.id_col, text_col=args.text_col,
                champions=args.champions,
            )
            print(
                R.bm25_index_commit_report(spark, args.index)
                .first().asDict()
            )
    elif args.cmd == "serve":
        out = R.bm25_index_serve(
            spark, args.index, query_max_id=args.query_max_id,
            k=args.k, mode=args.mode,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print({"out": args.out,
                   "n_rows": read_parquet(spark, args.out).count()})
        else:
            print({"n_rows": out.count()})
    elif args.cmd == "compact":
        print(R.compact_bm25_index(spark, args.index,
                                   champions=args.champions))
    else:
        print(R.bm25_index_commit_report(spark, args.index).first().asDict())


if __name__ == "__main__":
    main()
