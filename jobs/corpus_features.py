#!/usr/bin/env python
"""spark-submit entrypoint: corpus feature-vector pipeline.

Deploy::

    python -m feathr_spark.package dist/feathr_spark.zip
    spark-submit --py-files dist/feathr_spark.zip jobs/corpus_features.py \
        join --fact /data/corpus.parquet --obs /data/observations.parquet \
             --output /data/feature_vectors

Modes
-----
``join``         point-in-time SWA feature battery + as-of token lookup
                 onto the observation table; writes one parquet output.
``materialize``  per-cutoff snapshot generation with lineage manifests;
                 re-running resumes, skipping committed partitions.
``tokenize``     build a word vocabulary over a raw documents table and
                 encode it into the pre-tokenized corpus shape
                 (doc_id, tokens array<int>, n_tok, source) — the input
                 the join/materialize modes consume.
``curate``       end-to-end corpus curation funnel (language -> Gopher
                 -> exact/near-dup dedup -> decontaminate -> per-source
                 cap) over a raw documents table; emits the funnel
                 report (feathr_spark/pipeline.py).
``shard``        pre-tokenized corpus -> N resumable pos-sorted training
                 shards with per-shard lineage manifests; re-running
                 resumes from committed shards.
``report``       corpus datacard (size, word volume, percentiles,
                 per-source shares, exact-dup rate) as one JSON.

With ``--synthesize SF`` the deterministic corpus generator replaces the
input paths (same generator at any scale — the 10^12-row cluster run
only changes SF and paths). On a cluster, pass real table paths; the
zipf-hot doc_id handling (salting) and partition sizing are identical.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Under spark-submit the package arrives via --py-files; standalone runs
# resolve it from the repo checkout next to jobs/.
try:  # noqa: SIM105
    import feathr_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from feathr_spark import SWAFeature, WindowSpec  # noqa: E402

_DAY = 86_400
# The flagship SWA battery over the tokenized corpus: this job's join and
# materialize modes, bench.py and BENCH/run_scaling.py all measure it.
FLAGSHIP_SWA = [
    SWAFeature("tok_sum_1d", "SUM", "n_tok", WindowSpec(_DAY)),
    SWAFeature("seq_cnt_1d", "COUNT", "n_tok", WindowSpec(_DAY)),
    SWAFeature("tok_avg_7d", "AVG", "n_tok", WindowSpec(7 * _DAY)),
    SWAFeature("tok_max_7d", "MAX", "n_tok", WindowSpec(7 * _DAY)),
    SWAFeature("tok_min_7d", "MIN", "n_tok", WindowSpec(7 * _DAY)),
    SWAFeature("src_cnt_7d", "COUNT_DISTINCT", "source", WindowSpec(7 * _DAY)),
    SWAFeature("web_cnt_1d", "COUNT", "n_tok", WindowSpec(_DAY), filter="source = 'web'"),
    SWAFeature("tok_latest_7d", "LATEST", "n_tok", WindowSpec(7 * _DAY)),
    SWAFeature("since_last_s", "TIMESINCE", "n_tok", WindowSpec(7 * _DAY)),
]
# The as-of match timestamp, computed in the same kernel pass as the
# battery (one more column, no extra shuffle), for callers that then
# asof_fetch the token payload; 7d-bounded = asof_join(tolerance=7d).
MATCH_TS = SWAFeature("last_ts", "LATEST", "event_ts", WindowSpec(7 * _DAY))


def _load(spark, args):
    if args.synthesize is not None:
        from feathr_spark.datagen import corpus
        fact, obs = corpus(spark, sf=args.synthesize)
    else:
        fact = spark.read.parquet(args.fact)
        obs = spark.read.parquet(args.obs) if args.obs else None
    return fact, obs


def cmd_join(spark, args) -> dict:
    from feathr_spark import asof_join, join_window_agg_features

    fact, obs = _load(spark, args)
    if obs is None:
        raise SystemExit("join mode requires --obs (or --synthesize)")
    hot = args.hot_key_threshold
    t0 = time.monotonic()
    vec = join_window_agg_features(
        obs, fact, [args.key], [args.key], args.obs_ts, args.fact_ts,
        FLAGSHIP_SWA, obs_ts_format=args.ts_format,
        fact_ts_format=args.ts_format, strategy="cogroup",
        hot_key_threshold=hot, salt_buckets=args.salt_buckets)
    # prune strategy: slim (key, ts) match resolves each observation's
    # matched timestamp, then a hash join fetches only the matched
    # payload rows — the wide token arrays never enter a shuffle sort.
    # When the corpus table is stored entity-hash-partitioned (bucketed
    # Iceberg layout, sources/bucketed.py) the payload crosses zero
    # exchanges end-to-end.
    out = asof_join(
        vec, fact, [args.key], [args.key], args.obs_ts, args.fact_ts,
        ["tokens as last_tokens", "n_tok as last_n_tok"],
        obs_ts_format=args.ts_format, fact_ts_format=args.ts_format,
        strategy="prune")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    wall = time.monotonic() - t0
    return {"mode": "join", "rows": n, "wall_s": round(wall, 2),
            "rows_per_sec": round(n / wall, 1), "output": args.output}


def cmd_materialize(spark, args) -> dict:
    from feathr_spark.materialize import BackfillTime, GenSpec, materialize

    fact, _ = _load(spark, args)
    spec = GenSpec(keys=[args.key], key_names=[args.key], ts_col=args.fact_ts,
                   features=FLAGSHIP_SWA, ts_format=args.ts_format)
    bf = BackfillTime(args.backfill_start, args.backfill_end, args.backfill_step)
    report = materialize(fact, spec, args.output, bf,
                         inputs=[args.fact or f"synthetic sf={args.synthesize}"])
    report["mode"] = "materialize"
    return report


def cmd_tokenize(spark, args) -> dict:
    from feathr_spark.operators.text import build_vocabulary, encode_tokens

    docs = spark.read.parquet(args.docs)
    t0 = time.monotonic()
    vocab = build_vocabulary(docs, max_size=args.vocab_size,
                             min_count=args.min_count)
    vocab.write.mode("overwrite").parquet(f"{args.output}/vocab")
    vocab = spark.read.parquet(f"{args.output}/vocab")  # one vocab build
    out = encode_tokens(docs, vocab)
    out.write.mode("overwrite").parquet(f"{args.output}/tokens")
    n = spark.read.parquet(f"{args.output}/tokens").count()
    wall = time.monotonic() - t0
    return {"mode": "tokenize", "rows": n,
            "vocab_size": vocab.count(), "wall_s": round(wall, 2),
            "docs_per_sec": round(n / wall, 1), "output": args.output}


def cmd_shard(spark, args) -> dict:
    """Pre-tokenized corpus -> N resumable pos-sorted training shards
    (sources/shards.py): chunk to LM windows if --chunk-size is given,
    then write per-shard-manifest-committed parquet. Re-running with
    the same output resumes after a kill."""
    from feathr_spark.operators.tokens import chunk_sequences
    from feathr_spark.sources.shards import write_shards

    tok = spark.read.parquet(args.tokens)
    t0 = time.monotonic()
    key_hash = None
    if args.chunk_size:
        tok = chunk_sequences(tok, chunk_size=args.chunk_size,
                              stride=args.stride or args.chunk_size)
        # chunk rows are keyed (doc_id, chunk_idx): hash both so chunks
        # of one document spread across shards
        from pyspark.sql import functions as F
        key_hash = F.xxhash64("doc_id", "chunk_idx", F.lit(args.seed))
    report = write_shards(tok, args.output, n_shards=args.n_shards,
                          key_col=args.key, seed=args.seed,
                          hash_col=key_hash, wave_size=args.wave_size,
                          inputs=[args.tokens])
    wall = time.monotonic() - t0
    return {"mode": "shard", "wall_s": round(wall, 2),
            "output": args.output, **report["metrics"],
            "resumed_skipped": report["skipped"][:8]}


def cmd_compact(spark, args) -> dict:
    """Small-file maintenance: rewrite a parquet dataset into
    size-targeted (optionally range-clustered) files with an atomic
    swap (sources/compact.py)."""
    from feathr_spark.sources.compact import compact_parquet

    rep = compact_parquet(
        spark, args.path, target_file_mb=args.target_file_mb,
        sort_by=[c for c in args.sort_by.split(",") if c],
        partition_by=[c for c in args.partition_by.split(",") if c],
        compression=args.compression)
    return {"mode": "compact", **rep}


def cmd_diff(spark, args) -> dict:
    """Corpus version audit: per-doc added/removed/changed/unchanged
    between two snapshots (optionally written as parquet) + the
    per-source roll-up with token-budget deltas, as one JSON report
    (operators/corpus.py::corpus_diff/corpus_diff_summary)."""
    import time

    from pyspark.sql import functions as F

    from feathr_spark.operators.corpus import (corpus_diff,
                                               corpus_diff_summary,
                                               schema_diff)

    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    ccol = F.col(args.content_col) if args.content_col else None
    t0 = time.monotonic()
    d = corpus_diff(old, new, id_col=args.id_col, text_col=args.text_col,
                    content_col=ccol)
    if args.output:
        d.write.mode("overwrite").parquet(args.output)
        d = spark.read.parquet(args.output)
    totals = {r["status"]: r["n"] for r in
              d.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    summary = corpus_diff_summary(
        old, new, id_col=args.id_col, text_col=args.text_col,
        strata_col=args.source_col, content_col=ccol)
    rows = [r.asDict() for r in summary.orderBy(args.source_col).collect()]
    return {"mode": "diff", "wall_s": round(time.monotonic() - t0, 2),
            "totals": {k: int(totals.get(k, 0)) for k in
                       ("added", "removed", "changed", "unchanged")},
            "per_source": rows,
            "schema": schema_diff(old, new),
            "output": args.output}


def cmd_report(spark, args) -> dict:
    """Corpus datacard: the dataset-release summary over a documents
    table (size, word volume, length percentiles, per-source shares,
    exact-dup rate)."""
    from feathr_spark.operators.monitor import corpus_datacard

    docs = spark.read.parquet(args.docs)
    t0 = time.monotonic()
    card = {r["metric"]: r["value"] for r in corpus_datacard(
        docs, text_col=args.text_col, source_col=args.source_col).collect()}
    if args.output:
        with open(args.output, "w") as fh:
            json.dump(card, fh, indent=1, sort_keys=True)
    return {"mode": "report", "wall_s": round(time.monotonic() - t0, 2),
            "datacard": card}


def cmd_curate(spark, args) -> dict:
    from feathr_spark.pipeline import curate_corpus

    docs = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    t0 = time.monotonic()
    out, report = curate_corpus(
        docs,
        html_col=args.html_col,
        min_text_html_ratio=args.min_text_html_ratio,
        languages=args.languages.split(",") if args.languages else (),
        gopher=args.gopher,
        gopher_thresholds={"min_words": args.min_words,
                           "min_stopword_hits": args.min_stopword_hits},
        exact=not args.no_exact_dedup,
        near_dup=args.near_dup,
        near_dup_kwargs={"threshold": args.near_dup_threshold},
        benchmark=bench,
        max_per_source=args.max_per_source,
        track_counts=args.funnel_counts,
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    wall = time.monotonic() - t0
    return {"mode": "curate", "rows": n, "wall_s": round(wall, 2),
            "docs_per_sec": round(n / wall, 1), "funnel": report,
            "output": args.output}


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="mode", required=True)
    common = dict(formatter_class=argparse.ArgumentDefaultsHelpFormatter)
    pc = sub.add_parser("curate", **common)
    pc.add_argument("--docs", required=True,
                    help="raw documents table path (doc_id, text, source)")
    pc.add_argument("--output", required=True)
    pc.add_argument("--benchmark", default=None,
                    help="eval-set table to decontaminate against (text)")
    pc.add_argument("--html-col", default=None,
                    help="treat this column as raw HTML: extract text first "
                         "(overwrites the text column)")
    pc.add_argument("--min-text-html-ratio", type=float, default=None,
                    help="drop pages whose extracted-text/raw-html length "
                         "ratio falls below this (boilerplate gate)")
    pc.add_argument("--languages", default="",
                    help="comma-separated language allowlist (e.g. en,de)")
    pc.add_argument("--gopher", action="store_true", default=True)
    pc.add_argument("--min-words", type=int, default=50)
    pc.add_argument("--min-stopword-hits", type=int, default=2)
    pc.add_argument("--no-exact-dedup", action="store_true")
    pc.add_argument("--near-dup", action="store_true",
                    help="MinHash-LSH near-dup dedup (adds the LSH jobs)")
    pc.add_argument("--near-dup-threshold", type=float, default=0.8)
    pc.add_argument("--max-per-source", type=int, default=None)
    pc.add_argument("--funnel-counts", action="store_true",
                    help="count rows at every stage (one extra action each)")
    pc.add_argument("--cpus", type=int, default=None)
    pt = sub.add_parser("tokenize", **common)
    pt.add_argument("--docs", required=True,
                    help="raw documents table path (doc_id, text, source)")
    pt.add_argument("--output", required=True,
                    help="writes <output>/vocab and <output>/tokens")
    pt.add_argument("--vocab-size", type=int, default=32_768)
    pt.add_argument("--min-count", type=int, default=2)
    pt.add_argument("--cpus", type=int, default=None)
    pr = sub.add_parser("report", **common)
    pr.add_argument("--docs", required=True)
    pr.add_argument("--text-col", default="text")
    pr.add_argument("--source-col", default="source")
    pr.add_argument("--output", default=None,
                    help="optional path for the datacard JSON")
    pr.add_argument("--cpus", type=int, default=None)
    pk = sub.add_parser("compact", **common)
    pk.add_argument("--path", required=True,
                    help="parquet dataset directory to compact in place")
    pk.add_argument("--target-file-mb", type=int, default=256)
    pk.add_argument("--sort-by", default="",
                    help="comma-separated columns to range-cluster files by")
    pk.add_argument("--partition-by", default="",
                    help="comma-separated directory-partition columns to keep")
    pk.add_argument("--compression", default=None)
    pk.add_argument("--cpus", type=int, default=None)
    pd_ = sub.add_parser("diff", **common)
    pd_.add_argument("--old", required=True,
                     help="previous corpus snapshot (doc_id, text, source)")
    pd_.add_argument("--new", required=True,
                     help="current corpus snapshot")
    pd_.add_argument("--output", default=None,
                     help="optional path for the per-doc status parquet")
    pd_.add_argument("--id-col", default="doc_id")
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument("--source-col", default="source")
    pd_.add_argument("--content-col", default=None,
                     help="diff on this column instead of text "
                          "(e.g. tokens for a pre-tokenized corpus)")
    pd_.add_argument("--cpus", type=int, default=None)
    ps = sub.add_parser("shard", **common)
    ps.add_argument("--tokens", required=True,
                    help="pre-tokenized table path (doc_id, tokens, n_tok, ...)")
    ps.add_argument("--output", required=True,
                    help="shard sink; shard=K/ dirs with _manifest.json")
    ps.add_argument("--n-shards", type=int, default=128)
    ps.add_argument("--chunk-size", type=int, default=None,
                    help="optional LM chunk windowing before sharding")
    ps.add_argument("--stride", type=int, default=None)
    ps.add_argument("--key", default="doc_id")
    ps.add_argument("--seed", type=int, default=0)
    ps.add_argument("--wave-size", type=int, default=None)
    ps.add_argument("--cpus", type=int, default=None)
    for name in ("join", "materialize"):
        p = sub.add_parser(name, **common)
        p.add_argument("--fact", help="fact table path (doc_id, tokens, n_tok, source, event_ts)")
        p.add_argument("--obs", help="observation table path (doc_id, ts, ...)")
        p.add_argument("--output", required=True)
        p.add_argument("--synthesize", type=float, default=None,
                       help="replace inputs with the deterministic corpus at this SF")
        p.add_argument("--key", default="doc_id")
        p.add_argument("--obs-ts", default="ts")
        p.add_argument("--fact-ts", default="event_ts")
        p.add_argument("--ts-format", default="epoch")
        p.add_argument("--hot-key-threshold", type=int, default=10_000)
        p.add_argument("--salt-buckets", type=int, default=16)
        p.add_argument("--cpus", type=int, default=None,
                       help="local-mode cores (ignored under a real cluster master)")
        if name == "materialize":
            p.add_argument("--backfill-start", type=int, required=True)
            p.add_argument("--backfill-end", type=int, required=True)
            p.add_argument("--backfill-step", type=int, default=86_400)
    args = ap.parse_args(argv)

    from pyspark import SparkConf
    from pyspark.sql import SparkSession
    # Under spark-submit the session config comes from the submit command;
    # standalone invocation builds the tuned local session. --cpus only
    # applies when no cluster master is configured (get_spark would
    # otherwise honor the explicit override and run local on the driver).
    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from feathr_spark.session import get_spark
        cpus = None if SparkConf().contains("spark.master") else args.cpus
        spark = get_spark(cpus=cpus, app_name="corpus_features")

    report = {"join": cmd_join, "materialize": cmd_materialize,
              "tokenize": cmd_tokenize, "curate": cmd_curate,
              "shard": cmd_shard, "report": cmd_report,
              "diff": cmd_diff, "compact": cmd_compact}[args.mode](spark, args)
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
