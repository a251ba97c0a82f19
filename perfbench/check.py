"""Output checks for perfbench, run outside the timed window.

Doc workloads: every document's span sequence must equal its golden
(doc_id, offset, kind, text, media_ref) sequence exactly; a document whose
spans are missing, extra or different is one failure. corpus_ops: each
operator's rows must equal its `oracle_sql()` on DuckDB, compared with
`tools/check_parity.to_rows`; an operator that differs is one failure.
Every mismatch is printed (to stderr) and counted; none is dropped.
"""

from __future__ import annotations

import sys
from collections import defaultdict

import pyarrow as pa

from perfbench.gen import SPAN_KEYS, SPAN_SCHEMA, sort_spans, spans_table


def _by_doc(t: pa.Table) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = defaultdict(list)
    for row in zip(*(t.column(k).to_pylist() for k in SPAN_KEYS)):
        out[row[0]].append(row[1:])
    return out


def check_spans(got: pa.Table, golden: pa.Table, label: str,
                log=sys.stderr) -> tuple[int, int]:
    """(docs attempted, docs failed) for one delivered span table against
    the golden span table (both keyed by doc_id; golden defines the doc
    set)."""
    got = sort_spans(got).cast(SPAN_SCHEMA)
    golden = sort_spans(golden)
    n_docs = len(set(golden.column("doc_id").to_pylist()))
    if got.equals(golden):
        return n_docs, 0
    g, e = _by_doc(got), _by_doc(golden)
    failed = 0
    for doc in sorted(set(g) | set(e)):
        if g.get(doc) != e.get(doc):
            failed += 1
            print(f"MISMATCH {label} doc {doc}: got {len(g.get(doc, []))} "
                  f"spans, golden {len(e.get(doc, []))}; first diff "
                  f"{_first_diff(g.get(doc, []), e.get(doc, []))}", file=log)
    return n_docs, failed


def _first_diff(a: list, b: list):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return {"index": i, "got": x, "golden": y}
    return {"index": min(len(a), len(b)), "got_len": len(a),
            "golden_len": len(b)}


def compare_rows(spark_pdf, oracle_pdf, label: str, log=sys.stderr) -> bool:
    """True when an operator's output matches its oracle exactly (column
    names and type-strict, order-insensitive row values)."""
    from tools.check_parity import to_rows

    c1, r1 = to_rows(spark_pdf)
    c2, r2 = to_rows(oracle_pdf)
    problems = []
    if c1 != c2:
        problems.append(f"cols {c1} != {c2}")
    elif len(r1) != len(r2):
        problems.append(f"rows {len(r1)} != {len(r2)}")
    elif r1 != r2:
        bad = [(a, b) for a, b in zip(r1, r2) if a != b]
        problems.append(f"{len(bad)}/{len(r1)} rows differ; first: "
                        f"spark {bad[0][0]} oracle {bad[0][1]}")
    if problems:
        print(f"MISMATCH {label}: " + "; ".join(problems), file=log)
    return not problems


def self_test() -> None:
    """Prove the checkers are not vacuous: a dropped span, a swapped offset,
    a missing doc and a changed, retyped or dropped oracle row must each
    register as a failure, and untouched outputs must pass. Raises
    RuntimeError when a checker misses a corruption."""
    import io

    import pandas as pd

    rows = [("000000001", 0, "text", "alpha", ""),
            ("000000001", 1, "inline-formula", "$x$", ""),
            ("000000002", 0, "text", "beta", ""),
            ("000000002", 1, "image", "", "img/2.png")]
    golden = spans_table(rows)
    sink = io.StringIO()
    cases = {
        "identical": (spans_table(rows), 0),
        "dropped span": (spans_table(rows[:3]), 1),
        "swapped offset": (spans_table(
            [rows[0][:1] + (1,) + rows[0][2:], rows[1][:1] + (0,) + rows[1][2:]]
            + rows[2:]), 1),
        "missing doc": (spans_table(rows[:2]), 1),
    }
    for name, (got, want) in cases.items():
        _, failed = check_spans(got, golden, name, log=sink)
        if failed != want:
            raise RuntimeError(f"span checker self-test '{name}': "
                               f"{failed} failures, expected {want}")
    oracle = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    changed = oracle.copy()
    changed.loc[1, "score"] = 0.26
    retyped = oracle.astype({"score": "object"}).copy()
    retyped.loc[2, "score"] = 1
    for name, df, want in (("identical", oracle.iloc[::-1], True),
                           ("changed row", changed, False),
                           ("int for float", retyped, False),
                           ("dropped row", oracle.iloc[:2], False)):
        if compare_rows(df, oracle, name, log=sink) != want:
            raise RuntimeError(f"oracle checker self-test '{name}' did not "
                               f"{'pass' if want else 'fail'}")
