#!/usr/bin/env python
"""Regenerate COVERAGE.md — the SURVEY §2 traceability cross-reference.

For every operator ID from the SURVEY §2 inventory (S/P/F/J/A/T/U series
plus the §2.8-2.10 families) and every extension family, list the
registry entries that implement it (entries carry the IDs as tags).
Run: python tools/coverage_report.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_gmall_spark.registry import WINDOW_SIZE, last_green_rounds, registry

# SURVEY §2 inventory IDs in order, with one-line glosses.
SURVEY_IDS = [
    ("S1", "Kafka string source"), ("S2", "Kafka string sink"),
    ("S3", "per-record-topic EOS sink"), ("S4", "Kafka SQL-connector DDL"),
    ("S5", "CDC changelog source"), ("S6", "JDBC-batch-style sink"),
    ("S7", "dim upsert sink"), ("S8", "dynamic dim DDL from config"),
    ("S9", "HTTP log collector (non-goal)"), ("S10", "Redis KV cache (non-goal)"),
    ("P1", "JSON parse map"), ("P2", "parse + dirty side-output"),
    ("P3", "non-empty filter"), ("P4", "SQL predicate filter"),
    ("P5", "config-driven column pruning"), ("P6", "per-event-type projection"),
    ("P7", "conditional row emission"), ("P8", "string field derivation"),
    ("F1", "explode w/ parent field"), ("F2", "ik_analyze UDTF"),
    ("J1", "interval join order-detail"), ("J2", "interval join payment"),
    ("J3", "dim enrichment broadcast join"), ("J4", "broadcast config-routing join"),
    ("J5", "full-join-by-union"),
    ("A1", "keyed tumbling reduce"), ("A2", "windowed distinct-via-set"),
    ("A3", "SQL windowed COUNT(DISTINCT)"), ("A4", "windowed count per keyword"),
    ("A5", "batch GMV sum"), ("A6", "group-by + HAVING + top-N"),
    ("A7", "conditional sum by hour"), ("A8", "group-by flag"),
    ("A9", "weighted scoring agg"), ("A10", "batch count"),
    ("A11", "province rollup"), ("A12", "derived ratios HALF_UP"),
    ("T1", "new-visitor flag state"), ("T2", "daily first-visit dedup TTL"),
    ("T3", "CEP jump-out"), ("T4", "monotonous watermark"),
    ("T5", "bounded-lateness watermark"), ("T6", "tumbling window"),
    ("T7", "drop-late policy"), ("T8", "state TTL"),
    ("T9", "exactly-once sink"),
    ("U1", "4-way union"), ("U2", "7-way union"), ("U3", "main + side-output"),
]

NON_GOALS = {"S9", "S10"}
ENV_GATED = {"S1", "S2", "S3", "S4"}

# Extension families (beyond the reference), keyed by registry tag.
FAMILIES = [
    ("dedup", "Deduplication (exact / LSH / SimHash / chunk / incremental / semantic)"),
    ("similarity", "Similarity search (brute force / LSH / IVF / PQ / time-series)"),
    ("retrieval", "Retrieval (BM25 lexical / hybrid RRF fusion / serving)"),
    ("quantization", "Product quantization (encode / ADC / IVFPQ / index maintenance)"),
    ("curation", "Corpus curation (packing / sampling / decontamination / BPE / mixing)"),
    ("tokenizer-training", "Tokenizer training + serving (BPE)"),
    ("text", "Text analysis (lang-ID / quality / tokens / PII / sketches)"),
    ("multimodal", "Multimodal binary-column plumbing"),
    ("evaluation", "Hash-pinned self-evaluation (recall ledgers / confusion matrix)"),
    ("graph", "Graph analytics (label propagation / PageRank / triangles)"),
    ("path-analysis", "Path & funnel analytics (transitions / trigrams / attribution)"),
    ("feature-store", "Point-in-time (as-of) ML feature joins"),
    ("tpch", "TPC-H showcase (all 22 queries)"),
    ("streaming", "Structured Streaming twins + stateful operators"),
    ("scale", "Scale mechanics (skew / bucketing / pruning / bloom / compaction)"),
    ("connector", "Python Data Source connectors"),
    ("e2e", "Multi-stage end-to-end pipelines"),
]


def main() -> None:
    reg = registry()
    by_tag: dict[str, list[str]] = defaultdict(list)
    for name, q in reg.items():
        for t in q.tags:
            by_tag[t].append(name)

    lines = [
        "# COVERAGE — SURVEY §2 traceability (generated by tools/coverage_report.py)",
        "",
        f"Registry: **{len(reg)} entries**, every one an oracle-checked",
        "(query, DuckDB SQL) pair. This file cross-references the SURVEY §2",
        "operator inventory to the registry entries that implement each ID",
        "(entries carry the IDs as tags; run any of them via",
        "`__spark_entry__.queries()[name]`).",
        "",
        "## Reference inventory (SURVEY §2)",
        "",
        "| ID | operator | entries |",
        "|---|---|---|",
    ]
    for oid, gloss in SURVEY_IDS:
        entries = sorted(by_tag.get(oid, []))
        if oid in NON_GOALS:
            cell = "— explicit non-goal (SURVEY §7.4)"
        elif oid in ENV_GATED:
            cell = "implemented in `sources/kafka.py`, env-gated (no broker/jars)"
        else:
            cell = ", ".join(f"`{e}`" for e in entries) or "(untagged)"
        lines.append(f"| {oid} | {gloss} | {cell} |")

    lines += ["", "## Extension families", "", "| family | entries |", "|---|---|"]
    for tag, gloss in FAMILIES:
        entries = sorted(by_tag.get(tag, []))
        lines.append(f"| {gloss} | {len(entries)}: " + ", ".join(f"`{e}`" for e in entries) + " |")

    # Freshness ledger (generated; tests/test_freshness.py enforces the
    # staged-window rule against the same data)
    last = last_green_rounds()
    max_round = max(last.values(), default=0)
    by_round: dict[int, list[str]] = defaultdict(list)
    for name in reg:
        by_round[last.get(name, 0)].append(name)
    lines += [
        "",
        "## Freshness ledger (last green driver round per entry)",
        "",
        f"Parsed from CORRECTNESS_r01..r{max_round:02d}. Round 0 = never",
        "driver-verified (new additions, staged to lead the next window).",
        "The driver samples the first 50 registrations each round; the",
        "window is machine-derived (flink_gmall_spark/registry.staged_window):",
        "never-green + changed-plan re-verifications + stalest by (last green",
        "round, registration order).",
        "",
        f"**Depth-over-breadth policy (round 15+):** at {len(reg)} entries",
        f"and {WINDOW_SIZE} samples/round, perfect rotation still leaves a",
        f"worst-case staleness of ceil({len(reg)}/{WINDOW_SIZE}) =",
        f"{-(-len(reg) // WINDOW_SIZE)} rounds, and every net-new entry",
        "dilutes re-verification density further. New registrations are",
        "held to ≤5/round unless a VERDICT ask demands more; window slots",
        "go to re-verification first.",
        "",
        "| last green | n | entries |",
        "|---|---|---|",
    ]
    for rnd in sorted(by_round):
        names = sorted(by_round[rnd])
        label = "never" if rnd == 0 else f"r{rnd:02d}"
        lines.append(
            f"| {label} | {len(names)} | " + ", ".join(f"`{e}`" for e in names) + " |"
        )

    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    missing = [oid for oid, _ in SURVEY_IDS
               if oid not in NON_GOALS and oid not in ENV_GATED and not by_tag.get(oid)]
    if missing:
        print(f"WARNING: SURVEY IDs with no tagged entry: {missing}")


if __name__ == "__main__":
    main()
