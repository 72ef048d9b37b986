"""spark-submit entrypoint for the training-data corpus pipeline.

    spark-submit --py-files dist/who_focus_crawler_spark.zip \
        jobs/corpus.py --input /path/documents.parquet --output /tmp/kept

Input: either a parquet of (doc_id, text[, ...]) via --input, or a crawl
checkpoint via --from-crawl (the engine's interleaved documents table,
projected through corpus_view). Pipeline: exact dedup → MinHash-LSH
near-dup clusters (keep = min doc id per component) → PII redaction →
language gate + quality & repetition thresholds → kept corpus parquet +
one JSON stats line on stdout.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_corpus_pipeline(
    docs: DataFrame,
    output: str | None = None,
    minhash_threshold: float = 0.8,
    min_quality: int = 200,
    max_repetition: float = 0.5,
    lang: str = "en",
    max_dup_permille: int | None = None,
    remove_dup_runs_n: int | None = None,
    dedup_lines_flag: bool = False,
    dedup_lines_global_flag: bool = False,
    split_weights: dict[str, float] | None = None,
    mixture_weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    merge_into: str | None = None,
    embeddings: DataFrame | None = None,
    semdedup_tau: float | None = None,
    semdedup_clusters: int = 8,
    dsir_target: DataFrame | None = None,
    dsir_top_k: int | None = None,
    dsir_buckets: int = 4096,
    c4: bool = False,
    c4_min_lines: int = 3,
    gopher: bool = False,
    unescape: bool = False,
    keep_best: bool = False,
) -> dict:
    """docs(doc_id, text[, source]) → kept corpus + stats.

    Optional stages beyond the base dedup→redact→gate pipeline:
    - ``max_dup_permille``: drop docs whose cross-doc duplicated n-gram
      share exceeds the per-mille threshold (corpus/substring.py);
    - ``dedup_lines_flag``: drop repeated lines WITHIN each doc (first
      occurrence wins — corpus/text.py::dedup_lines) before any other
      text stage;
    - ``remove_dup_runs_n``: excise cross-doc duplicated n-gram runs
      from the surviving text instead of (or before) dropping whole
      docs — Lee et al. ACL 2022 exact-substring dedup
      (corpus/substring.py::remove_dup_runs); the rewrite happens
      before the quality gates so they judge the cleaned text;
    - ``split_weights``: label survivors with a deterministic
      train/val/test split column (corpus/sampling.py);
    - ``mixture_weights`` + ``token_budget``: per-source token-budget
      selection (corpus/mixture.py; requires a ``source`` column);
    - ``embeddings`` + ``semdedup_tau``: SemDeDup semantic dedup
      (corpus/semdedup.py) — k-means centroids fitted on the embeddings
      (vec_id must equal doc_id), within-cluster cosine groups above tau
      keep only their min-id survivor;
    - ``dsir_target`` + ``dsir_top_k``: DSIR importance selection
      (corpus/dsir.py) — keep the top-k gated docs by hashed-n-gram
      importance against the target sample.
    Returns the stats dict.
    """
    from who_focus_crawler_spark.corpus.clusters import dedup_keep
    from who_focus_crawler_spark.corpus.dedup import (
        exact_dedup_keep,
        minhash_lsh_pairs,
    )
    from who_focus_crawler_spark.corpus.text import (
        predict_lang,
        quality_score,
        redact_cards,
        redact_pii,
        repetition_stats,
        tokens,
    )

    if token_budget is not None and mixture_weights is None:
        raise ValueError("token_budget requires mixture_weights")
    if semdedup_tau is not None and embeddings is None:
        raise ValueError("semdedup_tau requires embeddings")
    if dsir_top_k is not None and dsir_target is None:
        raise ValueError("dsir_top_k requires dsir_target")
    n_in = docs.count()
    if unescape:
        # entity decoding REWRITES text, so it runs first of all —
        # every downstream hash/gate must see the decoded bytes
        from who_focus_crawler_spark.corpus.entities import unescape_html

        docs = docs.withColumn("text", unescape_html(F.col("text")))
    if dedup_lines_flag:
        # intra-doc line dedup REWRITES text → runs before content-hash
        # stages, same reasoning as C4
        from who_focus_crawler_spark.corpus.text import dedup_lines

        cleaned_lines = dedup_lines(docs).select(
            "doc_id", F.col("clean_text")
        )
        docs = (
            docs.drop("text")
            .join(cleaned_lines, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )
    if dedup_lines_global_flag:
        # CCNet-style corpus-wide line dedup (first occurrence wins) —
        # rewrites text, so it precedes every content-hash stage; runs
        # after intra-doc dedup (strictly fewer lines to shuffle)
        from who_focus_crawler_spark.corpus.text import dedup_lines_global

        cleaned_g = dedup_lines_global(docs).select("doc_id", "clean_text")
        docs = (
            docs.drop("text")
            .join(cleaned_g, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )
    if c4:
        # C4 line cleaning REWRITES text, so it runs before any
        # content-hash stage (a dedup hash of uncleaned text would not
        # survive the rewrite)
        from who_focus_crawler_spark.corpus.text import c4_filter

        docs = c4_filter(docs, min_kept_lines=c4_min_lines)
    # exact-dedup output feeds three consumers (pair mining, keep join,
    # count) — materialize once instead of re-running the scan + md5
    # window per action
    exact = exact_dedup_keep(docs).persist()
    n_exact = exact.count()
    pairs = minhash_lsh_pairs(exact, jaccard_threshold=minhash_threshold)
    if keep_best:
        # quality-aware canonical selection: each near-dup cluster keeps
        # its highest-quality member (corpus/clusters.py::dedup_keep_best)
        from who_focus_crawler_spark.corpus.clusters import dedup_keep_best

        scored = exact.withColumn("_q", quality_score(F.col("text")))
        kept = (
            dedup_keep_best(scored, pairs, "_q")
            .filter(F.col("keep"))
            .drop("_q")
        )
    else:
        kept = dedup_keep(exact, pairs).filter(F.col("keep"))
    if semdedup_tau is not None:
        from who_focus_crawler_spark.corpus.semdedup import semdedup
        from who_focus_crawler_spark.corpus.similarity import (
            ivf_fit_centroids,
        )

        cents = ivf_fit_centroids(
            embeddings, n_clusters=semdedup_clusters, iters=5
        )
        # drop only docs POSITIVELY marked as redundant — docs without an
        # embedding row pass through untouched
        sem_drop = semdedup(
            embeddings, cents, threshold=semdedup_tau
        ).filter(~F.col("keep"))
        kept = kept.join(
            sem_drop.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    if max_dup_permille is not None:
        from who_focus_crawler_spark.corpus.substring import (
            filter_by_dup_coverage,
        )

        kept = filter_by_dup_coverage(
            kept, max_dup_permille=max_dup_permille
        )
    if remove_dup_runs_n is not None:
        from who_focus_crawler_spark.corpus.substring import remove_dup_runs

        cleaned = remove_dup_runs(kept, n=remove_dup_runs_n).select(
            "doc_id", F.col("clean_text")
        )
        kept = (
            kept.drop("text")
            .join(cleaned, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )
    rep = repetition_stats(F.col("text"))
    carry = ["source"] if "source" in kept.columns else []
    final = (
        kept.select(
            "doc_id",
            *carry,
            # card redaction after the generic scrub: Luhn-valid spans
            # only, so order ids / phone groups survive (corpus/text.py)
            redact_cards(redact_pii(F.col("text"))).alias("text"),
            predict_lang(tokens(F.col("text"))).alias("lang"),
            quality_score(F.col("text")).alias("quality"),
            rep["top_gram_frac"].alias("rep_frac"),
        )
        .filter(
            (F.col("lang") == lang)
            & (F.col("quality") >= min_quality)
            & (F.col("rep_frac") < max_repetition)
        )
        .select("doc_id", *carry, "text", "quality")
    )
    if gopher:
        from who_focus_crawler_spark.corpus.text import gopher_keep

        final = final.filter(gopher_keep(F.col("text")))
    if dsir_top_k is not None:
        from who_focus_crawler_spark.corpus.dsir import dsir_fit, dsir_scores

        model = dsir_fit(dsir_target, final, n_buckets=dsir_buckets)
        scored = dsir_scores(final, model, n_buckets=dsir_buckets)
        final = (
            final.join(scored, "doc_id")
            .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
            .limit(dsir_top_k)
            .drop("dsir_score")
        )
    if mixture_weights is not None:
        if token_budget is None:
            raise ValueError("mixture_weights requires token_budget")
        if "source" not in final.columns:
            raise ValueError("mixture selection requires a 'source' column")
        from who_focus_crawler_spark.corpus.mixture import mixture_select

        final = mixture_select(
            final.withColumn(
                "n_tokens", F.size(tokens(F.col("text"))).cast("long")
            ),
            mixture_weights,
            token_budget,
        ).drop("n_tokens", "cum_tokens")
    if split_weights is not None:
        from who_focus_crawler_spark.corpus.sampling import split_assign

        final = split_assign(final, "doc_id", split_weights)
    final = final.persist()
    n_kept = final.count()  # one pipeline execution; the write below reuses it
    if merge_into:
        # incremental corpus maintenance: upsert this run's survivors
        # into an existing kept-corpus by doc_id — re-processed docs
        # take their new text/quality, prior docs are preserved — then
        # exact-dedup ACROSS runs (a re-crawled page arriving under a
        # new doc_id must not duplicate the kept corpus)
        import os as _os

        from who_focus_crawler_spark.corpus.dedup import exact_dedup_keep
        from who_focus_crawler_spark.operators.merge import merge_upsert

        if output and _os.path.abspath(output) == _os.path.abspath(merge_into):
            raise ValueError(
                "--output must be a NEW directory when using --merge-into: "
                "overwriting the corpus being read is unrecoverable if a "
                "task retries mid-write (write v2 beside v1, then swap)"
            )
        spark = docs.sparkSession
        existing = spark.read.parquet(merge_into)
        mismatch = set(existing.columns) ^ set(final.columns)
        if mismatch:
            raise ValueError(
                f"--merge-into schema mismatch on columns {sorted(mismatch)}: "
                "the incremental run must use the same pipeline options "
                "(--split/--mixture/source) as the corpus it merges into"
            )
        upserted = merge_upsert(
            existing, final.select(*existing.columns), ["doc_id"]
        )
        merged = exact_dedup_keep(upserted).persist()
        stats_merged = merged.count()
        if output:
            merged.write.mode("overwrite").parquet(output)
        merged.unpersist()
    elif output:
        final.write.mode("overwrite").parquet(output)
    stats = {
        "n_input": n_in,
        "n_after_exact_dedup": n_exact,
        "n_kept": n_kept,
        "dropped_exact_dup": n_in - n_exact,
        "dropped_neardup_or_filtered": n_exact - n_kept,
    }
    if merge_into:
        stats["n_merged_corpus"] = stats_merged
    if split_weights is not None:
        stats["n_per_split"] = {
            r.split: r.n
            for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    final.unpersist()
    exact.unpersist()
    return stats


def _parse_weights(s: str) -> dict[str, float]:
    """'train=0.9,val=0.1' → {'train': 0.9, 'val': 0.1}."""
    out: dict[str, float] = {}
    for part in s.split(","):
        name, _, w = part.partition("=")
        if not name or not w:
            raise ValueError(f"bad weights spec {s!r} (want name=w,name=w)")
        out[name.strip()] = float(w)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="training-data corpus pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet with (doc_id, text[, source])")
    src.add_argument("--from-crawl", help="crawl checkpoint dir (C14 catalog)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--minhash-threshold", type=float, default=0.8)
    ap.add_argument("--min-quality", type=int, default=200)
    ap.add_argument("--max-repetition", type=float, default=0.5)
    ap.add_argument("--lang", default="en")
    ap.add_argument(
        "--max-dup-permille", type=int, default=None,
        help="drop docs above this duplicated-n-gram share (0-1000)",
    )
    ap.add_argument(
        "--dedup-lines", action="store_true",
        help="drop repeated lines within each doc (first occurrence wins)",
    )
    ap.add_argument(
        "--unescape", action="store_true",
        help="decode HTML entities before any other text stage",
    )
    ap.add_argument(
        "--dedup-lines-global", action="store_true",
        help="drop corpus-wide repeated lines (first occurrence wins)",
    )
    ap.add_argument(
        "--keep-best", action="store_true",
        help="near-dup clusters keep their highest-quality member "
             "instead of the lowest doc id",
    )
    ap.add_argument(
        "--remove-dup-runs", type=int, default=None, metavar="N",
        help="excise cross-doc duplicated N-gram runs from surviving "
             "text (exact-substring dedup, Lee et al. ACL 2022)",
    )
    ap.add_argument(
        "--split", default=None,
        help="deterministic split weights, e.g. train=0.9,val=0.05,test=0.05",
    )
    ap.add_argument(
        "--mixture", default=None,
        help="per-source mixture weights, e.g. web=0.6,code=0.4",
    )
    ap.add_argument("--token-budget", type=int, default=None)
    ap.add_argument(
        "--merge-into", default=None,
        help="existing kept-corpus parquet to upsert this run's docs into "
             "(by doc_id); the merged corpus is written to --output",
    )
    ap.add_argument(
        "--embeddings", default=None,
        help="parquet with (vec_id, embedding) — vec_id matches doc_id; "
             "required for --semdedup-tau",
    )
    ap.add_argument(
        "--semdedup-tau", type=float, default=None,
        help="SemDeDup within-cluster cosine threshold (e.g. 0.95)",
    )
    ap.add_argument("--semdedup-clusters", type=int, default=8)
    ap.add_argument(
        "--dsir-target", default=None,
        help="parquet with (doc_id, text) in-domain sample; required for "
             "--dsir-top-k",
    )
    ap.add_argument(
        "--dsir-top-k", type=int, default=None,
        help="keep only the top-k gated docs by DSIR importance",
    )
    ap.add_argument(
        "--c4", action="store_true",
        help="C4 line cleaning (terminal punctuation / 5-word floor / "
             "javascript lines; lorem-ipsum + brace doc drops) before dedup",
    )
    ap.add_argument("--c4-min-lines", type=int, default=3)
    ap.add_argument(
        "--gopher", action="store_true",
        help="Gopher document-quality rules on the gated survivors",
    )
    args = ap.parse_args()

    from who_focus_crawler_spark.session import submit_spark

    spark = submit_spark("wfc-corpus")
    if args.from_crawl:
        from who_focus_crawler_spark import schemas
        from who_focus_crawler_spark.checkpoint.snapshot import SnapshotCatalog
        from who_focus_crawler_spark.corpus.interleaved import corpus_view

        cat = SnapshotCatalog(args.from_crawl)
        docs = corpus_view(
            cat.read_table(spark, "documents", schemas.DOCUMENTS_OUT)
        ).select("doc_id", "text")
    else:
        raw = spark.read.parquet(args.input)
        cols = ["doc_id", "text"] + (["source"] if "source" in raw.columns else [])
        docs = raw.select(*cols)
    stats = run_corpus_pipeline(
        docs,
        output=args.output,
        minhash_threshold=args.minhash_threshold,
        min_quality=args.min_quality,
        max_repetition=args.max_repetition,
        lang=args.lang,
        max_dup_permille=args.max_dup_permille,
        remove_dup_runs_n=args.remove_dup_runs,
        dedup_lines_flag=args.dedup_lines,
        dedup_lines_global_flag=args.dedup_lines_global,
        unescape=args.unescape,
        keep_best=args.keep_best,
        split_weights=_parse_weights(args.split) if args.split else None,
        c4=args.c4,
        c4_min_lines=args.c4_min_lines,
        gopher=args.gopher,
        mixture_weights=_parse_weights(args.mixture) if args.mixture else None,
        token_budget=args.token_budget,
        merge_into=args.merge_into,
        embeddings=(
            spark.read.parquet(args.embeddings) if args.embeddings else None
        ),
        semdedup_tau=args.semdedup_tau,
        semdedup_clusters=args.semdedup_clusters,
        dsir_target=(
            spark.read.parquet(args.dsir_target) if args.dsir_target else None
        ),
        dsir_top_k=args.dsir_top_k,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
