"""pdf_parse_bench_spark — a from-scratch PySpark-native document-extraction
engine with the semantic capabilities of phorn1/pdf-parse-bench.

Public API (the reference's library entry point 2, README.md:172-216, as
composable DataFrame transforms):

    from pdf_parse_bench_spark import (
        parse_documents, extract_spans, align_extractions, score_spans,
        summarize,
    )
"""

# First, so that every Python worker that unpickles a kernel of this package
# stops re-reading pyspark.zip on each later task (see _importcache).
from pdf_parse_bench_spark import _importcache

_importcache.install()

from pdf_parse_bench_spark.operators.extract import (  # noqa: F401
    align_extractions,
    assemble_markdown,
    compute_boilerplate,
    extract_spans,
    extract_spans_from_html,
    extract_spans_from_layout,
    extract_spans_from_tei,
    parse_pdfs,
    rasterize_pages,
    substitute_table_refs,
)
from pdf_parse_bench_spark.operators.aggregates import (  # noqa: F401
    benchmark_counts,
    extracted_complexity_cube,
    extraction_quality,
    grouped_mean_scores,
    judged_complexity_cube,
    leaderboard,
    leaderboard_markdown,
    pending_scores,
    score_cube,
)
from pdf_parse_bench_spark.operators.dedup import (  # noqa: F401
    dedup_clusters,
    dedup_exact,
    embedding_near_dups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_signatures,
)
from pdf_parse_bench_spark.operators.media import (  # noqa: F401
    decode_media,
    media_features,
)
from pdf_parse_bench_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    lsh_topk,
)
from pdf_parse_bench_spark.operators.textstats import (  # noqa: F401
    corpus_filter,
    fingerprint,
    lang_id,
    quality_score,
    token_counts,
)

__version__ = "0.1.0"


class Benchmark:
    """Library facade matching the reference's entry point 2
    (README.md:172-216: `bench.extract(); bench.evaluate();
    bench.save_benchmark_summary()`), DataFrame-native: a user of the
    reference can hand in their own parsed markdown mid-pipeline and run
    the remaining stages."""

    def __init__(self, spark, golden):
        """golden: DataFrame or parquet path of golden spans
        (doc_id, offset, kind, text, media_ref)."""
        self.spark = spark
        self.golden = (
            golden if hasattr(golden, "columns") else spark.read.parquet(golden)
        )

    def extract(self, df, backend: str = "markdown"):
        from pdf_parse_bench_spark.operators.backends import get_backend
        if isinstance(df, str):
            df = self.spark.read.parquet(df)
        return get_backend(backend)(df)

    def align(self, md_df):
        """GT-guided alignment (the reference's extract stage)."""
        keys = ["doc_id", "offset", "kind", "text", "media_ref"]
        return align_extractions(md_df, self.golden.select(*keys))

    def evaluate(self, extracted):
        """Deterministic judge scores (E2 default) + exact match rates."""
        return {
            "judged": score_spans_judged(extracted, self.golden),
            "exact": score_spans(extracted, self.golden),
        }

    def save_benchmark_summary(self, judged, path: str | None = None):
        from pyspark.sql import functions as F
        summary = judged.groupBy("kind").agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
        if path:
            summary.write.mode("overwrite").parquet(path)
        return summary

# convenience aliases matching the reference's stage names
parse_documents = parse_pdfs
summarize = grouped_mean_scores


def score_spans_judged(extracted, golden):
    """Deterministic 0-10 judge (E2 default scorer): per aligned span pair,
    score = round_half_up(10 * (1 - levenshtein/max_len)) — the reference's
    LLM judge (eval/llm_judge.py:133-158) replaced by an exact, reproducible
    similarity metric. Built-in levenshtein → JVM-side, no UDF.

    The distance is BYTE-level (UTF-8): Spark's levenshtein counts UTF-16
    chars while ANSI-SQL engines count bytes, so the portable contract is
    edits over the UTF-8 byte sequence — here via the
    encode→ISO-8859-1-decode trick (one char per byte), with octet_length
    as the normalizer."""
    from pyspark.sql import functions as F

    def _bytes_as_chars(col):
        return F.decode(F.encode(col, "UTF-8"), "ISO-8859-1")

    e = extracted.select("doc_id", "offset", "kind",
                         F.col("text").alias("extracted_text"))
    g = golden.select("doc_id", "offset", F.col("text").alias("golden_text"))
    joined = e.join(g, ["doc_id", "offset"])
    max_len = F.greatest(
        F.octet_length("extracted_text"), F.octet_length("golden_text"),
        F.lit(1)
    )
    raw = 10.0 * (
        F.lit(1.0)
        - F.levenshtein(_bytes_as_chars(F.col("extracted_text")),
                        _bytes_as_chars(F.col("golden_text"))) / max_len
    )
    score = F.greatest(
        F.lit(0), (F.floor(raw + F.lit(0.5))).cast("int")
    )
    return joined.select("doc_id", "offset", "kind", score.alias("score"))


def score_spans(extracted, golden):
    """Exact span-equality scorer (our deterministic judge, E2 default):
    per doc_id, fraction of golden spans matched exactly on
    (kind, text, media_ref, offset)."""
    from pyspark.sql import functions as F

    keys = ["doc_id", "offset", "kind", "text", "media_ref"]
    g = golden.select(*keys)
    e = extracted.select(*keys).withColumn("_hit", F.lit(1))
    joined = g.join(e, keys, "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_golden"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_matched"),
        (F.floor(F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*")
                 * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("match_rate"),
    )
