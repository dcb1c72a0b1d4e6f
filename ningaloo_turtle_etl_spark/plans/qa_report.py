"""QA run-report — the reference's human-readable QA section
(ningaloo-etl.Rmd:372-425) as one rendered artifact.

The reference interleaves four QA queries with prose in an RMarkdown render:
duplicated site keys (:377), missing coordinates (:386-389), orphaned crawl
observations (:402-405, "302 crawls / 299 nests"), and NA-species lookups
(:415-424, "22 crawls"). Here each check is a rule DataFrame
(operators/quality.py), and the report ties them together:

- machine-checkable: per-check violation count + optional EXPECTED count →
  ok flag (the reference's prose "we expect 22" becomes an assertion);
- human-readable: a rendered Markdown section per check with sample
  violation rows, written next to the JSON.

Scale note: each check is one bounded aggregation/anti-join; samples are
``limit(n)`` — nothing collects an unbounded violation set to the driver.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class QaCheck:
    """One QA rule: a violations DataFrame (empty = clean) and, optionally,
    the count the operator expects (None = informational only)."""

    name: str
    description: str
    violations: DataFrame
    expected: int | None = None


def evaluate_check(c: QaCheck, sample_rows: int = 5) -> dict:
    """One check's violation count, ok-vs-expected, and up to ``sample_rows``
    example violations (stringified for JSON portability)."""
    count = c.violations.count()
    sample = [
        {k: (None if v is None else str(v)) for k, v in row.asDict().items()}
        for row in c.violations.limit(sample_rows).collect()
    ]
    return {
        "description": c.description,
        "count": count,
        "expected": c.expected,
        "ok": (count == c.expected) if c.expected is not None else (count == 0),
        "sample": sample,
    }


def render_markdown(results: dict, title: str = "QA run report") -> str:
    """Render the reference-style QA section: one block per check with the
    verdict and sample rows as a Markdown table."""
    lines = [f"# {title}", ""]
    n_bad = sum(1 for r in results.values() if not r["ok"])
    lines.append(
        f"**{len(results)} checks, "
        + (f"{n_bad} unexpected**" if n_bad else "all as expected**")
    )
    lines.append("")
    for name, r in results.items():
        verdict = "OK" if r["ok"] else "UNEXPECTED"
        expected = "informational" if r["expected"] is None else f"expected {r['expected']}"
        lines.append(f"## {name} — {verdict}")
        lines.append("")
        lines.append(f"{r['description']}")
        lines.append("")
        lines.append(f"Violations: **{r['count']}** ({expected}).")
        if r["sample"]:
            cols = list(r["sample"][0].keys())
            lines.append("")
            lines.append("| " + " | ".join(cols) + " |")
            lines.append("|" + "---|" * len(cols))
            for row in r["sample"]:
                lines.append(
                    "| " + " | ".join("" if row[c] is None else row[c] for c in cols) + " |"
                )
        lines.append("")
    return "\n".join(lines)


def write_qa_report(results: dict, out_dir: str, stem: str = "qa_report") -> dict:
    """Write the JSON (machine) and Markdown (human) artifacts; returns the
    paths. The JSON keeps the legacy flat {check: count} shape under
    'counts' plus the full per-check detail."""
    os.makedirs(out_dir, exist_ok=True)
    json_path = os.path.join(out_dir, f"{stem}.json")
    md_path = os.path.join(out_dir, f"{stem}.md")
    payload = {
        "counts": {name: r["count"] for name, r in results.items()},
        "checks": results,
        "ok": all(r["ok"] for r in results.values()),
    }
    with open(json_path, "w") as f:
        json.dump(payload, f, indent=2)
    with open(md_path, "w") as f:
        f.write(render_markdown(results))
    return {"json": json_path, "markdown": md_path}
