"""Command-line interface (reference ``cli.py``: ``index`` / ``retrieve``
subcommands; TREC run output lines ``qid 0 docno rank score tag``,
``cli.py:62-63``).

    python -m pyterrier_pisa_spark index  <index_dir> --input corpus.parquet \
        [--stemmer porter2] [--pretokenized] [--id-col doc_id] [--mode overwrite]
    python -m pyterrier_pisa_spark retrieve <index_dir> --queries topics.tsv \
        [--k 1000] [--algorithm block_max_wand] [--trec]
    python -m pyterrier_pisa_spark stats <index_dir>

Topics file: TSV ``qid<TAB>query`` (one per line). ``--algorithm`` takes
any ``PisaQueryAlgorithm`` value.
"""

from __future__ import annotations

import argparse
import os
import sys

RUN_TAG = "ppisa_spark"


def _spark(cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyterrier_pisa_spark_cli")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_index(args) -> int:
    from .sources.index_store import build_index

    spark = _spark(args.cpus)
    reader = spark.read
    corpus = reader.parquet(args.input) if args.input.endswith((".parquet", "/")) or os.path.isdir(args.input) \
        else reader.json(args.input)
    meta = build_index(
        corpus, args.index_dir,
        stemmer=args.stemmer, mode=args.mode, id_col=args.id_col,
        docno_col=args.docno_col, pretokenized=args.pretokenized,
        scale=args.scale, block_size=args.block_size, encoding=args.encoding,
    )
    print(f"indexed num_docs={meta['stats']['num_docs']} num_terms={meta['stats']['num_terms']} "
          f"in {meta['built_sec']:.1f}s -> {args.index_dir}")
    return 0


def cmd_retrieve(args) -> int:
    from .operators.wand import retrieve_blockmax
    from .plans.api import PRUNED_ALGORITHMS
    from .plans.pipeline import retrieve
    from .sources.index_store import load_index

    spark = _spark(args.cpus)
    idx = load_index(spark, args.index_dir)
    queries = []
    with open(args.queries) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            qid, _, qtext = line.partition("\t")
            queries.append((qid, qtext))
    if args.algorithm in PRUNED_ALGORITHMS:
        res = retrieve_blockmax(idx, queries, k=args.k, stopwords=args.stopwords,
                                include_query=False)
    else:  # argparse allows only the exhaustive names besides
        res = retrieve(idx.as_logical(), queries, k=args.k, stopwords=args.stopwords,
                       mode=args.algorithm, include_query=False)
    rows = res.orderBy("qid", "rank").collect()
    out = sys.stdout
    for r in rows:
        if args.trec:
            out.write(f"{r['qid']} 0 {r['docno']} {r['rank']} {r['score']} {RUN_TAG}\n")
        else:
            out.write(f"{r['qid']}\t{r['docno']}\t{r['rank']}\t{r['score']}\n")
    return 0


def cmd_stats(args) -> int:
    import json

    meta_path = os.path.join(args.index_dir, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    print(json.dumps(meta, indent=1))
    return 0


def parser() -> argparse.ArgumentParser:
    from .plans.api import EXHAUSTIVE_ALGORITHMS, PRUNED_ALGORITHMS

    ap = argparse.ArgumentParser(prog="pyterrier_pisa_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index", help="build an index from a parquet/json corpus")
    p.add_argument("index_dir")
    p.add_argument("--input", required=True)
    p.add_argument("--stemmer", default="porter2", choices=["porter2", "none"])
    p.add_argument("--mode", default="overwrite", choices=["create", "overwrite", "resume"])
    p.add_argument("--id-col", default=None)
    p.add_argument("--docno-col", default=None)
    p.add_argument("--pretokenized", action="store_true")
    p.add_argument("--scale", type=float, default=100.0)
    p.add_argument("--block-size", type=int, default=128)
    p.add_argument("--encoding", default="varint", choices=["varint", "bytepack", "bitpack"],
                   help="Parquet writer settings for the posting lists (one layout, "
                        "one reader): varint = dictionary pages + zstd, bytepack = "
                        "plain pages + zstd, bitpack = DELTA_BINARY_PACKED + zstd")
    p.add_argument("--cpus", type=int, default=os.cpu_count() or 8)
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("retrieve", help="run queries against an index")
    p.add_argument("index_dir")
    p.add_argument("--queries", required=True, help="TSV qid<TAB>query")
    p.add_argument("--k", type=int, default=1000)
    p.add_argument("--algorithm", default="block_max_wand",
                   choices=[*PRUNED_ALGORITHMS, *EXHAUSTIVE_ALGORITHMS])
    p.add_argument("--stopwords", default="terrier",
                   help="query-time stop list: terrier (reference default), lucene, none")
    p.add_argument("--trec", action="store_true", help="TREC run output format")
    p.add_argument("--cpus", type=int, default=os.cpu_count() or 8)
    p.set_defaults(fn=cmd_retrieve)

    p = sub.add_parser("stats", help="print index metadata")
    p.add_argument("index_dir")
    p.set_defaults(fn=cmd_stats)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
