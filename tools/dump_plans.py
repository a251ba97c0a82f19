"""Generate PLANS.md — formatted physical plans of the headline queries,
with notes on the properties that matter at 100 TB (pushdown, pruning,
broadcast, partial aggregation). Run: python tools/dump_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from pdf_parse_bench_spark.plans import formatted_plan  # noqa: E402
from pdf_parse_bench_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

PICKS = {
    "extract_spans": "MapInArrow extraction (operators/rows.map_rows) after "
                     "size rebalancing; the scan reads only (doc_id, "
                     "markdown).",
    "dedup_exact": "single hash-shuffle with map-side partial aggregation "
                   "(HashAggregate appears twice: partial + final).",
    "lsh_candidate_pairs": "band self-join keyed on (band, band_key) — a "
                           "shuffled hash join per bucket, never cartesian.",
    "ann_topk": "tiny query side broadcast (BroadcastHashJoin / NestedLoop "
                "with broadcast hint), corpus scanned once.",
    "ann_lsh": "ham<=T static filter pushed into the broadcast-join "
               "condition; two-phase top-k (partial per (query_id, _pid) "
               "with WindowGroupLimit, final window over <=k*P rows).",
    "minhash_signatures": "ONE md5 per shingle (Kirsch-Mitzenmacher "
                          "double hashing); r7: whole signature computed "
                          "per doc inside one Arrow kernel — zero "
                          "shuffles.",
    "thumbnail_media": "size-rebalanced MapInArrow decode+resize; scan "
                       "reads only the media columns.",
    "revenue_by_region": "dimension tables broadcast; fact scans stay "
                         "shuffle-free until the final groupBy.",
    "tpch_q6": "filters pushed to the parquet scan (PushedFilters), "
               "aggregation fully partial-final.",
    "quality_score": "pure whole-stage-codegen projection over a pruned "
                     "2-column scan.",
    "ann_lsh": "sign-sketch + rerank: 2x32-bit signatures in codegen, "
               "Hamming (bit_count(xor)) candidate ranking per query, "
               "exact cosine only on the top 10% candidates.",
    "ann_lsh_buckets": "bucketed multi-probe sign-LSH: flip-1/flip-2 probe "
                       "list exploded on the tiny broadcast query side; "
                       "corpus joined on the int bucket key.",
    "vocab_stats": "global top-k as TakeOrderedAndProject (map-side "
                   "partial top-k) — never a single-partition sort of "
                   "the whole vocabulary.",
    "tfidf_top_terms": "per-word DF table shuffle-joined on word (NOT "
                       "force-broadcast — 10^8 rows at 100 TB); only the "
                       "1-row corpus count is broadcast.",
    "embedding_near_dups": "banded random-projection LSH — r7: one "
                           "(band, band_key) groupBy feeding a NumPy "
                           "pair-matrix kernel (no self-join, no per-pair "
                           "interpreted fold); distinct on survivors.",
    "simhash_near_dups": "64-bit SimHash block banding (Hamming<=3 "
                         "pigeonhole); r7: band rows carry the signature "
                         "blocks so popcount(xor) evaluates inline in the "
                         "self-join; distinct AFTER the filter.",
    "extracted_complexity_cube": "parse-time complexity classification in "
                                 "codegen + one Expand/grouping-sets "
                                 "aggregation.",
    "page_assembly_refs": "per-doc (id, content) array collected with one "
                          "shuffle, then a JVM-side aggregate fold of "
                          "replace() calls — no Python UDF.",
    "corpus_filter": "composed cleaning pass: three codegen projections "
                     "over one pruned scan + one (fingerprint, doc_id) "
                     "window; no full-row shuffles.",
    "pii_scrub": "four regexp_count + four chained regexp_replace in ONE "
                 "codegen projection over a pruned scan; zero shuffles.",
    "duplicate_ngram_pairs": "per-doc distinct shingle digests from one "
                             "Arrow kernel (r7) -> DF filter BELOW the "
                             "self-join (boilerplate shingles never reach "
                             "the pair space), ReusedExchange.",
    "pdf_spans": "MapInArrow over size-rebalanced PDF batches; all "
                 "classification inside the Arrow batch, no driver loops.",
    "doc_stats_rollup": "one Expand (N+1 groupings) + one aggregation "
                        "exchange; r7: per-doc features in one Arrow "
                        "kernel (the fused interpreted Expand stage blew "
                        "the codegen method limit).",
    "repetition_stats": "Gopher repetition metrics as array_sort + "
                        "higher-order aggregate folds: ZERO Exchanges — "
                        "the explode+groupBy alternative would shuffle "
                        "every n-gram of the corpus twice.",
    "decontaminate": "eval-slice distinct shingles broadcast; the corpus "
                     "side joins map-side (BroadcastHashJoin), only "
                     "flagged docs reach the final count exchange.",
    "unicode_normalization": "381-entry table as ONE constant-folded "
                             "literal map + a single split/lookup/join "
                             "pass — table growth adds map width, never "
                             "expression depth.",
    "pdf_encrypt_audit": "header/KDF-only MapInArrow pass over "
                         "size-rebalanced PDF bytes; no page parsing.",
    "layout_spans": "collect_list packs each doc's blocks JVM-side, then "
                    "ONE batched MapInArrow — no per-group pandas "
                    "overhead (was applyInPandas: 5.9s -> 2.4s).",
    "align_extractions": "golden side packs to one sorted array row per "
                         "doc, joins back to the markdown row, batched "
                         "MapInArrow — same one-exchange-per-side "
                         "shuffle as the old cogroup.",
    "chunk_documents": "overlapping word windows via sequence/slice/"
                       "posexplode — zero Exchanges.",
    "url_dedup": "window on canonical URL; URL-less docs get per-doc "
                 "synthetic keys (no NULL-partition funnel).",
    "semantic_dedup": "SemDeDup: (cell, subcell)-equi self-join — hot "
                      "cells above cell_cap split by a deterministic id "
                      "key, bounding every compared group (r5).",
    "pack_sequences": "two-phase distributed prefix sum keyed on the "
                      "DETERMINISTIC range bucket (r5; never "
                      "spark_partition_id) + B-row offset window + "
                      "local explode.",
    "pdf_image_stats": "pruned 2-column scan -> size rebalance -> "
                       "MapInArrow; per-image decode cached per "
                       "object number inside the worker (r5).",
    "lm_score": "O(n) trigram build via zipped shifted arrays; model "
                "shuffle-joined on tri, 1-row total broadcast.",
    "extract_table_cells": "tabular source -> logical cell grid entirely "
                           "in codegen: one pruned scan, two Generates "
                           "(span explode, row posexplode), regexp + "
                           "split/transform HOFs; ZERO Exchanges (r6).",
    "pdf_locked_audit": "password side-table joined into the KDF-only "
                        "audit pass; per-doc decrypt verdicts for both "
                        "the empty and supplied passwords (r6).",
}


def main() -> None:
    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    qs = entry.queries()
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by tools/dump_plans.py at sf0.001. These pin the physical",
        "properties the engine relies on at 100 TB scale; tests/test_plans.py",
        "asserts the load-bearing ones on every run.",
        "",
    ]
    for name, note in PICKS.items():
        df = qs[name](spark, SF)
        out.append(f"## {name}")
        out.append("")
        out.append(f"_{note}_")
        out.append("")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```")
        out.append("")
    (REPO / "PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
