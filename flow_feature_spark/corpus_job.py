"""spark-submit CLI for the training-data corpus operators (documents side).

Makes the ops/ modules OPERABLE, not just tested: one job per corpus stage —

  analyze   per-doc text features (tokens, ratios, quality, lang, fingerprints)
  vocab     corpus token-frequency table, top-N
  sample    deterministic sampling: --fraction (content-addressed Bernoulli)
            or --per-stratum k rows per --stratify-by group
  pairs     near-duplicate candidate pairs (--method simhash|minhash)
  clusters  pairs -> connected components -> (doc_id, component, is_canonical)
  dedup     the cleaned corpus itself: input minus non-canonical duplicates
            (pairs -> clusters -> anti-join), the end product a training
            pipeline actually consumes

Composability mirrors job.py: parquet in, parquet/csv out, so stages chain
through storage (each is independently resumable by rerunning just it).
Launch: spark-submit --py-files ffs.zip -m flow_feature_spark.corpus_job ...
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="flow_feature_spark.corpus_job")
    p.add_argument("--input", required=True, help="documents table path (parquet)")
    p.add_argument("--output", required=True, help="output path")
    p.add_argument(
        "--op", required=True,
        choices=["analyze", "vocab", "tfidf", "sample", "pairs", "clusters",
                 "dedup", "fuzzy"],
    )
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--top-n", type=int, default=1000, help="vocab size")
    p.add_argument("--tfidf-k", type=int, default=5,
                   help="--op tfidf: terms kept per document")
    p.add_argument("--log-idf", action="store_true",
                   help="--op tfidf: classic tf*ln(N/df) scoring instead "
                        "of the cross-engine-exact rational tf*N/df")
    p.add_argument("--fraction", type=float, default=None,
                   help="sample: Bernoulli keep fraction (hash-deterministic)")
    p.add_argument("--per-stratum", type=int, default=None,
                   help="sample: keep k rows per --stratify-by group")
    p.add_argument("--stratify-by", default="source")
    p.add_argument("--salt", default="", help="independent sample draws")
    p.add_argument("--method", choices=["simhash", "minhash"], default="simhash")
    p.add_argument("--max-distance", type=int, default=1, choices=[1, 2],
                   help="--op fuzzy: Levenshtein threshold")
    p.add_argument("--fuzzy-col", default=None,
                   help="--op fuzzy: short-string column to join on "
                   "(default: first 16 chars of --text-col)")
    p.add_argument("--max-bucket", type=int, default=None,
                   help="--op fuzzy: drop deletion variants shared by more "
                   "than this many strings (bounded-work recall trade)")
    p.add_argument("--max-hamming", type=int, default=3, help="simhash radius")
    p.add_argument("--minhash-k", type=int, default=None,
                   help="minhash signature length (default: production k)")
    p.add_argument("--minhash-bands", type=int, default=None,
                   help="LSH band count; rows per band = k/bands sets the "
                   "similarity threshold s* = (1/bands)^(bands/k) — lower a "
                   "custom --minhash-k's band count too, or r collapses "
                   "toward 1 and everything pairs")
    p.add_argument("--fast-minhash", action="store_true",
                   help="use the codegen'd xxhash64 signature family "
                   "(minhash_signatures_fast) — ~10x faster at corpus scale "
                   "(BENCH/CORPUS_SCALE.md); not the cross-engine md5 family")
    p.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    p.add_argument("--csv-header", action="store_true")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def _pairs(df, args):
    from flow_feature_spark.ops import dedup as dd

    # the dedup ops key on 'doc_id'; honor --id-col by renaming in (pair
    # output columns stay doc_a/doc_b, carrying the original id VALUES —
    # string ids included, cluster.py dictionary-encodes them)
    if args.id_col != "doc_id":
        if "doc_id" in df.columns:
            raise SystemExit(
                f"--id-col {args.id_col} conflicts with an existing doc_id column"
            )
        df = df.withColumnRenamed(args.id_col, "doc_id")
    if args.method == "simhash":
        return dd.simhash_pairs(
            df, text_col=args.text_col, max_hamming=args.max_hamming
        ).select("doc_a", "doc_b")
    kw = {"k": args.minhash_k} if args.minhash_k else {}
    if args.minhash_bands:
        kw["bands"] = args.minhash_bands
    if args.fast_minhash:
        kw["signatures"] = dd.minhash_signatures_fast(
            df, text_col=args.text_col, k=args.minhash_k or dd.N_MINHASH
        )
    return dd.minhash_lsh_candidates(df, text_col=args.text_col, **kw).select(
        "doc_a", "doc_b"
    )


def run(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from flow_feature_spark.session import owned_session

    with owned_session(
        app_name=f"ffs_corpus_{args.op}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    ) as spark:
        return _run(args, spark)


def _run(args: argparse.Namespace, spark) -> int:
    """The work of one ``run`` on ``spark``; returns the exit code."""
    from pyspark.sql import functions as F

    from flow_feature_spark.ops import text as tx
    from flow_feature_spark.ops.cluster import dedup_clusters
    from flow_feature_spark.ops.sample import deterministic_sample, stratified_topk

    docs = spark.read.parquet(args.input)

    if args.op == "analyze":
        out = tx.analyze_documents(docs, text_col=args.text_col)
    elif args.op == "vocab":
        out = tx.token_vocabulary(docs, text_col=args.text_col, top_n=args.top_n)
    elif args.op == "tfidf":
        out = tx.tfidf_topk(docs, text_col=args.text_col, id_col=args.id_col,
                            k=args.tfidf_k, log_idf=args.log_idf)
    elif args.op == "sample":
        if (args.fraction is None) == (args.per_stratum is None):
            raise SystemExit(
                "--op sample needs exactly one of --fraction / --per-stratum"
            )
        if args.fraction is not None:
            out = deterministic_sample(
                docs, args.fraction, key_col=args.id_col, salt=args.salt
            )
        else:
            out = stratified_topk(
                docs, group_col=args.stratify_by, k=args.per_stratum,
                key_col=args.id_col, salt=args.salt,
            )
    elif args.op == "fuzzy":
        from flow_feature_spark.ops.fuzzy import edit_distance_pairs

        if args.fuzzy_col:
            base = docs.select(args.id_col, F.col(args.fuzzy_col).alias("s"))
        else:
            base = docs.select(
                args.id_col, F.substring(args.text_col, 1, 16).alias("s")
            )
        base = base.filter(F.col("s").isNotNull() & (F.length("s") > 0))
        out = edit_distance_pairs(
            base, args.id_col, "s",
            max_distance=args.max_distance, max_bucket=args.max_bucket,
        )
    elif args.op == "pairs":
        out = _pairs(docs, args)
    elif args.op == "clusters":
        out = dedup_clusters(_pairs(docs, args))
        if args.id_col != "doc_id":
            out = out.withColumnRenamed("doc_id", args.id_col)
    else:  # dedup: drop non-canonical members of every duplicate cluster
        losers = (
            dedup_clusters(_pairs(docs, args))
            .filter(~F.col("is_canonical"))
            .select(F.col("doc_id").alias(args.id_col))
        )
        out = docs.join(losers, on=args.id_col, how="left_anti")

    if args.format == "csv":
        out.write.mode("overwrite").option(
            "header", str(args.csv_header).lower()
        ).csv(args.output)
    else:
        out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output} ({args.op})")
    return 0


if __name__ == "__main__":
    raise SystemExit(run(sys.argv[1:]))
