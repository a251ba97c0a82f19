"""Checkpointed, resumable extraction with per-partition lineage
(north_rule: per-partition checkpointed lineage + extraction-quality
metrics so failed partitions resume idempotently).

Design (SURVEY.md §4 "skip-existing" → anti-join):
  - every stage writes its outputs AND a lineage row per document
    (stage, partition_id, doc_id, status, error, n_spans);
  - a resume pass computes pending = inputs ⟕̸ checkpoint(status='ok')
    (left_anti) and re-runs only those — idempotent because output is
    keyed by doc_id and rewritten per doc;
  - UDFs never abort the job: per-document try/except turns failures into
    status='error' lineage rows (X4, pipeline/pipeline.py:80-84).

The checkpoint is a parquet directory (append-only); on a real cluster it
is an Iceberg table with `bucket(doc_id)` partitioning so the anti-join is
storage-partitioned and shuffle-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark import TaskContext

from pdf_parse_bench_spark.kernels.markdown import parse_markdown
from pdf_parse_bench_spark.operators.rows import map_rows

_OUT_SCHEMA = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "partition_id int, status string, error string"
)


def _partition_id() -> int:
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else -1


def extract_with_lineage(
    md_df: DataFrame,
    boilerplate: frozenset[str] = frozenset(),
    fail_docs: frozenset[str] = frozenset(),
) -> DataFrame:
    """Extraction that never aborts: one output row per span plus a
    status/partition column; failed docs emit a single error row.
    `fail_docs` injects deterministic failures for resume tests."""
    bp = md_df.sparkSession.sparkContext.broadcast((boilerplate, fail_docs))

    def make_row():
        bset, fail = bp.value
        pid = _partition_id()

        def row(doc_id, md):
            try:
                if doc_id in fail:
                    raise RuntimeError("injected failure")
                rows = [(doc_id, s["offset"], s["kind"], s["text"],
                         s["media_ref"], pid, "ok", None)
                        for s in parse_markdown(md, bset)]
            except Exception as exc:  # X4: isolate, never abort
                return [(doc_id, -1, "", "", "", pid, "error", repr(exc))]
            # zero-span doc (empty / all-boilerplate): emit an ok sentinel
            # (offset=-1, excluded from span output) so lineage checkpoints
            # it — otherwise pending() re-selects it forever and resume
            # never drains.
            return rows or [(doc_id, -1, "", "", "", pid, "ok", None)]
        return row

    return map_rows(md_df.select("doc_id", "markdown"), _OUT_SCHEMA, make_row)


def lineage_of(result: DataFrame, stage: str = "extract") -> DataFrame:
    """Collapse a lineage-annotated result to one row per doc (the
    checkpoint/metrics table, X5/X7)."""
    # severity as an explicit int (error=0 < ok=1), not an accident of
    # string collation: a doc with ANY error row checkpoints as error
    return result.groupBy("doc_id").agg(
        F.lit(stage).alias("stage"),
        F.max("partition_id").alias("partition_id"),
        F.when(F.min(F.when(F.col("status") == "error", 0).otherwise(1))
               == 0, "error").otherwise("ok").alias("status"),
        F.max("error").alias("error"),
        F.sum(F.when((F.col("status") == "ok") & (F.col("offset") >= 0), 1)
              .otherwise(0)).alias("n_spans"),  # sentinels don't count
    )


def lineage_summary(
    md_df: DataFrame,
    boilerplate: frozenset[str] = frozenset(),
    fail_docs: frozenset[str] = frozenset(),
    stage: str = "extract",
) -> DataFrame:
    """One lineage row per document WITHOUT materializing span rows —
    row-identical to ``lineage_of(extract_with_lineage(...))`` because a
    document lives in exactly one input row, so the per-doc aggregates
    (max partition_id, any-error status, sentinel-excluded span count)
    collapse to values the kernel knows in place. r7 (guide §2.3
    "aggregate before you shuffle"): the audit path this feeds only needs
    (doc_id, status, n_spans), and the r6 composition shuffled every
    extracted span's text through a groupBy just to count it. Input is
    spread so the parse engages every core on single-row-group layouts
    (counts only downstream — no order-sensitive float aggregation)."""
    from pdf_parse_bench_spark.operators.skew import spread_for_kernel

    bp = md_df.sparkSession.sparkContext.broadcast((boilerplate, fail_docs))
    md_df = spread_for_kernel(md_df.select("doc_id", "markdown"))

    def make_row():
        bset, fail = bp.value
        pid = _partition_id()

        def row(doc_id, md):
            try:
                if doc_id in fail:
                    raise RuntimeError("injected failure")
                return [(doc_id, stage, pid, "ok", None,
                         len(parse_markdown(md, bset)))]
            except Exception as exc:  # X4: isolate, never abort
                return [(doc_id, stage, pid, "error", repr(exc), 0)]
        return row

    return map_rows(
        md_df, "doc_id string, stage string, partition_id int, "
               "status string, error string, n_spans long", make_row)


def pending(inputs: DataFrame, checkpoint_dir: str) -> DataFrame:
    """Inputs not yet successfully checkpointed (P5: the anti-join)."""
    spark = inputs.sparkSession
    if not _has_data(checkpoint_dir):
        return inputs
    done = (
        spark.read.parquet(checkpoint_dir)
        .where(F.col("status") == "ok")
        .select("doc_id")
        .distinct()
    )
    return inputs.join(done, "doc_id", "left_anti")


def run_resumable(
    md_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    boilerplate: frozenset[str] = frozenset(),
    fail_docs: frozenset[str] = frozenset(),
) -> None:
    """One resumable pass: process pending docs, append spans + lineage."""
    todo = pending(md_df, checkpoint_dir)
    if not todo.take(1):
        return
    result = extract_with_lineage(todo, boilerplate, fail_docs).cache()
    try:
        (
            result.where((F.col("status") == "ok") & (F.col("offset") >= 0))
            .select("doc_id", "offset", "kind", "text", "media_ref")
            .write.mode("append").parquet(out_dir)
        )
        lineage_of(result).write.mode("append").parquet(checkpoint_dir)
    finally:
        result.unpersist()


def read_resumed(spark: SparkSession, out_dir: str,
                 checkpoint_dir: str) -> DataFrame:
    """Final output view: spans of docs whose lineage says ok (idempotent
    under re-runs: a doc appears once per successful pass; dedup by the
    (doc_id, offset) key — a full-row distinct would key the exchange on
    long text payloads)."""
    spans = spark.read.parquet(out_dir)
    ok = (
        spark.read.parquet(checkpoint_dir)
        .where(F.col("status") == "ok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n"))
        .select("doc_id")
    )
    w = Window.partitionBy("doc_id", "offset").orderBy(F.lit(1))
    return (
        spans.join(ok, "doc_id", "inner")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _has_data(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
