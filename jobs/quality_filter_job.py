"""Cluster entry point: training-data quality + contamination filter.

Chains the pipeline's document-level filters into one pass over a corpus
table and writes the surviving rows plus per-stage drop lineage:

  1. exact dedup        — md5(content) groups, keep the lowest id
  2. Gopher quality     — repetition/length signals (text.gopher_quality)
  3. decontamination    — word n-gram overlap vs a benchmark table
                          (skipped when --benchmark is not given)
  4. segment dedup      — CCNet-style repeated-segment removal: newline
                          segments in >= --segment-min-df surviving docs
                          stripped from all of them, text rewritten
                          (off unless --segment-min-df > 0)
  5. substring dedup    — EXACT ExactSubstr removal: maximal spans of any
                          >= --substring-min-len-char substring occurring
                          twice corpus-wide are cut (keep-first policy:
                          the globally-first copy survives), text
                          rewritten (off unless --substring-min-len > 0)
  6. PII redaction      — email/IP/access-key/hex-secret regex scrub
                          (pii.redact_pii), text rewritten in place
                          (off unless --redact-pii)

Deploy:
    spark-submit --py-files sourmash_spark.zip jobs/quality_filter_job.py \
        --input  <parquet of documents (id, text, ...)> \
        --output <output dir> \
        [--benchmark <parquet of (bench_id, text)>] [--ngram 8] \
        [--id-col doc_id] [--text-col text] [--min-words 50]

Writes:
    <output>/filtered.parquet   surviving rows (all input columns)
    <output>/lineage.parquet    (stage, doc_id) for every dropped row
                                (segment_dedup stage: docs whose text was
                                rewritten, no row drop)
Prints one summary JSON line.  The session is get_spark's: spark-submit's
--master and --conf apply; a session already running is used as it is.
"""

from __future__ import annotations

import argparse
import json
import time
from functools import reduce


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--ngram", type=int, default=8)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument(
        "--segment-min-df", type=int, default=0,
        help="when > 0, add a final CCNet-style repeated-segment-removal "
        "stage: newline-delimited segments appearing in >= this many "
        "distinct surviving documents are stripped from all of them "
        "(text rewritten in place; per-doc removal counts in lineage)",
    )
    ap.add_argument(
        "--substring-min-len", type=int, default=0,
        help="when > 0, add an exact duplicated-substring removal stage "
        "(dedup.exact_substring_removal, keep='first'): every maximal "
        "span covered by a substring of at least this many chars that "
        "occurs twice anywhere in the surviving corpus is cut from all "
        "but its first copy",
    )
    ap.add_argument(
        "--redact-pii", action="store_true",
        help="add a final PII/secret redaction stage (pii.redact_pii "
        "default kinds); docs whose text changed are recorded in lineage "
        "under stage pii_redacted (no row drop)",
    )
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F
    from pyspark.sql import DataFrame, Observation

    from sourmash_spark.session import get_spark

    spark = get_spark("sourmash_spark_quality_filter")
    from sourmash_spark.operators import dedup as dedup_ops
    from sourmash_spark.operators import text as text_ops

    t0 = time.time()
    idc, txt = args.id_col, args.text_col
    docs = spark.read.parquet(args.input)

    # 1. exact dedup: drop every non-canonical copy.  Array-free per-doc
    # marking (exact_dedup_ids) — mega duplicate groups stay as rows and
    # split under AQE skew-join instead of collecting into one array row.
    marked = dedup_ops.exact_dedup_ids(docs, id_col=idc, text_col=txt)
    dup_ids = marked.filter(~F.col("is_canonical")).select(idc)
    # dropped (or rewritten) ids per stage, in stage order
    drops = {"exact_dup": dup_ids}
    # no broadcast hint: dup_ids is corpus-proportional on a dup-heavy
    # input; AQE broadcasts it when the runtime size fits
    docs1 = docs.join(dup_ids, idc, "left_anti")

    # 2. Gopher-style quality
    q = text_ops.gopher_quality(
        docs1, id_col=idc, text_col=txt, min_words=args.min_words
    )
    bad_q = q.filter(~F.col("passes")).select(idc)
    drops["gopher_quality"] = bad_q
    docs2 = docs1.join(bad_q, idc, "left_anti")

    # 3. benchmark decontamination
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        contaminated = text_ops.decontaminate(
            docs2, bench, n=args.ngram, id_col=idc, text_col=txt
        ).select(idc)
        drops["decontaminate"] = contaminated
        docs3 = docs2.join(contaminated, idc, "left_anti")
    else:
        docs3 = docs2

    # 4. optional repeated-segment removal (rewrites text, drops no rows;
    # lineage records per-doc removed-segment counts)
    if args.segment_min_df > 0:
        # materialize the survivor set once: the segment stage self-joins
        # docs3 with a plan derived from docs3, and the lineage write reads
        # it a third time — without this the exact-dedup → gopher →
        # decontaminate chain recomputes ~3x (ADVICE r4)
        docs3 = docs3.localCheckpoint(eager=True)
        # `seg` feeds the lineage union AND the rewrite join — checkpoint
        # lazily so the segment plan executes once (same shape as the
        # substring stage's ADVICE r5 fix)
        seg = dedup_ops.repeated_segment_removal(
            docs3, id_col=idc, text_col=txt, min_df=args.segment_min_df
        ).localCheckpoint(eager=False)
        drops["segment_dedup"] = seg.filter(F.col("n_removed") > 0).select(idc)
        docs3 = (
            docs3.drop(txt)
            .join(
                seg.select(idc, F.col("text_deduped").alias(txt)), idc
            )
        )

    # 5. optional exact substring dedup (rewrites text, drops no rows)
    if args.substring_min_len > 0:
        # same multi-read guard as the segment stage: the span marking
        # and the rewrite join both derive from docs3
        docs3 = docs3.localCheckpoint(eager=True)
        # checkpoint `cut` too (ADVICE r5): it feeds BOTH the lineage
        # union and the text rewrite join — without this the
        # mark-and-cut kernel pass executes twice at write time
        cut = dedup_ops.exact_substring_removal(
            docs3, min_len=args.substring_min_len, id_col=idc,
            text_col=txt, keep="first",
        ).localCheckpoint(eager=False)
        drops["substring_dedup"] = (
            cut.filter(F.col("n_removed") > 0).select(idc)
        )
        docs3 = docs3.drop(txt).join(
            cut.select(idc, F.col("text_deduped").alias(txt)), idc
        )

    # 6. optional PII redaction (map-only column expressions; rewrites
    # text in place, drops no rows).  keep_cols threads the other corpus
    # columns through the same projection — no join back, no recompute
    if args.redact_pii:
        from sourmash_spark.operators import pii as pii_ops

        passthrough = [c for c in docs3.columns if c not in (idc, txt)]
        red = pii_ops.redact_pii(
            docs3, id_col=idc, text_col=txt, keep_cols=passthrough
        )
        count_cols = [
            c for c in red.columns
            if c.startswith("n_") and c not in docs3.columns
        ]
        n_hits = sum(F.col(c) for c in count_cols)
        drops["pii_redacted"] = red.filter(n_hits > 0).select(idc)
        docs3 = red.select(
            idc, *passthrough, F.col("text_redacted").alias(txt)
        )

    docs3.write.mode("overwrite").parquet(f"{args.output}/filtered.parquet")
    dropped = Observation("dropped_by_stage")
    reduce(DataFrame.unionByName, (
        d.withColumn("stage", F.lit(stage)) for stage, d in drops.items()
    )).observe(dropped, *(
        F.count_if(F.col("stage") == stage).alias(stage) for stage in drops
    )).write.mode("overwrite").parquet(f"{args.output}/lineage.parquet")

    print(json.dumps({
        **summarize(args.input, args.output, dropped),
        "wall_sec": round(time.time() - t0, 2),
    }))
    return 0


def summarize(input_path: str, output: str, dropped) -> dict:
    """Rows in and out, from the parquet footers, and the rows each stage
    dropped (stages that dropped none left out), from the ``dropped``
    Observation on the lineage write — no Spark job."""
    from sourmash_spark.sources.checkpoint import partition_metrics

    def rows(path: str) -> int:
        return sum(p["rows"] for p in partition_metrics(path))

    return {
        "n_in": rows(input_path),
        "n_out": rows(f"{output}/filtered.parquet"),
        "dropped_by_stage": {s: n for s, n in dropped.get.items() if n},
    }


if __name__ == "__main__":
    raise SystemExit(main())
