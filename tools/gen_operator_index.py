"""Generate docs/OPERATORS.md — the user-facing index of every
registered query/operator.

One row per `__spark_entry__.queries()` key: family, key, and the first
sentence of the implementing callable's docstring (the operator modules
keep the what/why up front, so the first sentence is the summary).
Grouped by key prefix, sorted within group. Run after adding operators;
tests/test_survey_sync.py keeps SURVEY §2 in sync, this keeps the user
doc in sync.

Usage: python tools/gen_operator_index.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FAMILIES = [
    ("q", "TPC-H query shapes"),
    ("op", "Relational / analytic primitives"),
    ("ev", "Event-series analytics"),
    ("st", "Structured Streaming (drained into the value gate)"),
    ("dd", "Deduplication"),
    ("ann", "Similarity search / ANN"),
    ("sk", "Mergeable sketches"),
    ("txt", "Text analysis / training-data curation"),
    ("mm", "Multimodal binary columns"),
    ("gr", "Graph analytics"),
    ("gs", "Geospatial"),
    ("pipe", "Composed pipelines (Stage machinery, one Catalyst plan)"),
]


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    # First sentence, but don't split on '." inside e.g. "e.g." / module refs.
    m = re.search(r"(?<![A-Za-z]\.[a-z])\. (?=[A-Z`(])", text)
    sent = text[: m.start() + 1] if m else text
    return sent if len(sent) <= 300 else sent[:297] + "..."


def main() -> None:
    import __spark_entry__ as e
    from pypers_spark.operators import REGISTRY

    qs = REGISTRY  # unwrapped callables: docstrings live here
    oracled = set(e.oracle_sql())
    groups: dict[str, list[tuple[str, str]]] = {}
    for key, fn in qs.items():
        prefix = key.split("_", 1)[0]
        if re.fullmatch(r"q\d+", prefix):
            prefix = "q"
        groups.setdefault(prefix, []).append((key, first_sentence(fn.__doc__)))

    lines = [
        "# Operator index",
        "",
        f"All {len(qs)} registered queries/operators, grouped by family.",
        "Every entry is value-gated against a DuckDB oracle on the same",
        "parquet (see `tests/oracle_check.py`); run any of them with:",
        "",
        "```python",
        "import __spark_entry__ as e",
        'df = e.queries()["dd_minhash_lsh"](spark, "/root/testdata/sf0.01")',
        "```",
        "",
        "Results are unordered: a key's DataFrame carries its rows in",
        "whatever order the plan produces them, unless the key is top-N",
        "(`orderBy(...).limit(n)`, planned as `TakeOrderedAndProject`),",
        "where the order decides which rows are kept. Callers that display",
        "or compare rows in order sort at readout, e.g.",
        '`df.orderBy("doc_id").toPandas()` or `sorted(df.collect())`.',
        "",
    ]
    covered = set()
    for prefix, title in FAMILIES:
        entries = sorted(groups.get(prefix, []))
        if not entries:
            continue
        covered.add(prefix)
        lines += [f"## {title} ({len(entries)})", ""]
        for key, desc in entries:
            mark = "" if key in oracled else " *(rows-only gate)*"
            lines.append(f"- **`{key}`**{mark} — {desc}")
        lines.append("")
    leftovers = {p: v for p, v in groups.items() if p not in covered}
    if leftovers:
        raise SystemExit(f"unmapped key prefixes: {sorted(leftovers)}")

    out = os.path.join(REPO, "docs", "OPERATORS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out} ({len(qs)} keys)")


if __name__ == "__main__":
    main()
