"""Pure pandas/NumPy kernels — no SparkSession required.

These are the vectorized cores the operators wrap: the per-document ones
through operators/rows.map_rows (one mapInArrow), the corpus-level ones in
pandas/Arrow UDFs (SURVEY.md §7 step 2). Keeping them Spark-free makes them unit-testable and
keeps all heavy per-document logic inside Arrow batches on executors.
"""

from pdf_parse_bench_spark.kernels.textnorm import (  # noqa: F401
    normalize_display_formula,
    normalize_for_matching,
    preprocess_unicode,
    split_grouped_formula,
    strip_delimiters,
    unescape_control,
)
from pdf_parse_bench_spark.kernels.htmldoc import parse_html  # noqa: F401
from pdf_parse_bench_spark.kernels.markdown import parse_markdown  # noqa: F401
from pdf_parse_bench_spark.kernels.alignment import (  # noqa: F401
    align_spans,
    find_original_segment,
    levenshtein,
)
from pdf_parse_bench_spark.kernels.layout import (  # noqa: F401
    blocks_to_spans,
    reading_order,
)
from pdf_parse_bench_spark.kernels.pdftext import extract_pdf_text  # noqa: F401
