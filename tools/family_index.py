#!/usr/bin/env python
"""Generate FAMILIES.md — the family -> queries -> operators index.

The one index of the registry: a one-page map a reader can diff against
``queries()`` in one pass. Query lists are derived
LIVE from the registry (they cannot rot); the family titles and the
backing operator/module pointers are the one curated piece, validated
by the completeness check below (an unmapped prefix fails generation,
so a new family must declare itself here).

Usage: python tools/family_index.py          # rewrite FAMILIES.md
       python tools/family_index.py --check  # exit 1 if file is stale
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "FAMILIES.md")

# prefix -> (family title, backing operators / modules)
# Prefixes sharing a row are listed together; every registry prefix must
# appear exactly once.
FAMILIES: list[tuple[tuple[str, ...], str, str]] = [
    (("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9"),
     "Reference battery (pin/geo/user analogues)",
     "plans/analytics.py; rank/percentile windows, broadcast dims"),
    (("tpch",), "TPC-H 22/22",
     "plans/relational.py; full join/agg/subquery surface"),
    (("top", "window",), "Windows & top-k",
     "plans/relational.py, plans/extensions.py; WindowGroupLimit, "
     "two_phase_rank/two_phase_running (operators/ranking.py)"),
    (("agg",), "Aggregation extensions",
     "plans/relational.py, plans/extensions.py; rollup/cube/grouping "
     "sets, pivot, salted agg, skyline, Gini, t-digest grouped"),
    (("join",), "Join zoo",
     "operators/joins.py, plans/relational.py; semi/anti/asof/range/"
     "interval/lateral/null-safe/salted/bucketed, FastSS fuzzy, "
     "spatial grid, FIFO interval"),
    (("subquery", "set", "recursive", "reshape", "explode", "array",
      "scalar", "pandas"),
     "SQL surface (subqueries, set ops, recursion, reshape, HOFs, "
     "scalar functions, pandas UDF)",
     "plans/relational.py; F.* built-ins, one Arrow-grouped-agg entry"),
    (("clean",), "Cleaning (reference parity)",
     "operators/cleaning.py; sentinel->NULL, k/M parse, casts, "
     "age buckets, winsorize, impute"),
    (("dedup",), "Deduplication",
     "operators/dedup.py; exact, MinHash-LSH, SimHash, PPJoin prefix, "
     "winnowing, sorted-neighborhood, connected components, FS linkage"),
    (("embedding", "ann", "ml"),
     "Embeddings, ANN & ML",
     "operators/similarity.py; brute/LSH/IVF/PQ/binary/int8, GEMM "
     "kernel, JL projection, k-means, target encoding"),
    (("text", "tfidf", "search"),
     "Text analysis & retrieval",
     "operators/text.py, plans/extensions.py; lang-id, quality, "
     "entropy, readability, Zipf, RAKE, PMI, TF-IDF, BM25, RRF, nDCG"),
    (("events",), "Event analytics",
     "plans/extensions.py; sessionization, funnels, retention, "
     "attribution, paths, survival (KM), CUPED, Theil-Sen, bitmaps"),
    (("quality", "stat", "anomaly"),
     "Data-quality audits & statistics",
     "plans/extensions.py; expectations, drift (PSI/KS), chi-square, "
     "Mann-Whitney, Spearman, kappa, Benford, k-anonymity, Simpson, "
     "contamination audits, CUSUM/MAD/bot anomaly"),
    (("sample",), "Sampling",
     "operators/sampling.py; deterministic hash, stratified, weighted "
     "(A-ES), quota, systematic, group-split, negative pairs, "
     "token-budget mix"),
    (("sketch",), "Mergeable sketches",
     "operators/sketches.py; t-digest (incl. weighted), KMV, CMS, HLL, "
     "Misra-Gries, bitmaps"),
    (("pack",), "Sequence packing & chunking",
     "operators/packing.py; distributed prefix sum, RAG chunking"),
    (("multimodal",), "Multimodal columns",
     "operators/multimodal.py; sha256 content address, Arrow decode "
     "plumbing (env-stubbed codecs), frame sampling"),
    (("graph",), "Graph algorithms",
     "plans/extensions.py; PageRank, BFS, triangles, label propagation"),
    (("cdc", "merge", "scd2", "schema"),
     "CDC / MERGE / SCD2 / schema evolution",
     "operators/merge.py; snapshot diff, changelog apply, SCD2, "
     "as-of temporal joins"),
    (("streaming",), "Structured Streaming",
     "streaming/pipeline.py, streaming/stateful.py; watermarked dedup, "
     "session/tumbling/sliding, stream-stream joins, keyed upsert, "
     "incremental MV/CMS/t-digest/bitmap"),
    (("json", "csv", "orc", "layout"),
     "Formats & layout",
     "sources/, plans/extensions.py; JSON/variant, malformed CSV, ORC "
     "round-trips, small-file compaction"),
    (("pipeline",), "Pipeline composites",
     "runner.py, plans/extensions.py; corpus card, end-to-end curation"),
]


def build() -> str:
    import __spark_entry__ as entry

    names = list(entry.queries())
    oracled = set(entry.oracle_sql())
    by_prefix: dict[str, list[str]] = defaultdict(list)
    for n in names:
        by_prefix[n.split("_")[0]].append(n)

    mapped: set[str] = set()
    for prefixes, _, _ in FAMILIES:
        for p in prefixes:
            if p in mapped:
                raise SystemExit(f"prefix {p!r} mapped twice")
            mapped.add(p)
    unmapped = sorted(set(by_prefix) - mapped)
    if unmapped:
        raise SystemExit(
            f"unmapped registry prefixes {unmapped}: add them to FAMILIES"
        )

    lines = [
        "# FAMILIES — registry map (generated)",
        "",
        "One row per operator family: every `queries()` entry appears in",
        "exactly one row (generated from the live registry by",
        "`tools/family_index.py`; regenerate after any registry change —",
        "`tests/test_registry.py` pins freshness). Queries marked",
        "`*` are rows-only (no DuckDB oracle); everything else is oracled.",
        "",
        f"Registry: **{len(names)} queries / {len(oracled)} oracled**.",
        "",
        "| Family | n | Queries | Backing operators |",
        "|---|---|---|---|",
    ]
    total = 0
    for prefixes, title, ops in FAMILIES:
        qs = [q for p in prefixes for q in by_prefix.get(p, [])]
        qs.sort()
        total += len(qs)
        shown = ", ".join(
            q + ("" if q in oracled else "*") for q in qs
        )
        lines.append(f"| {title} | {len(qs)} | {shown} | {ops} |")
    lines.append("")
    lines.append(f"Total rows: {total} (must equal registry size).")
    if total != len(names):
        raise SystemExit(f"family rows {total} != registry {len(names)}")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    content = build()
    if "--check" in sys.argv:
        with open(OUT) as f:
            if f.read() != content:
                print("FAMILIES.md is stale; run python tools/family_index.py")
                return 1
        print("FAMILIES.md is current")
        return 0
    with open(OUT, "w") as f:
        f.write(content)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
