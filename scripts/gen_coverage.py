"""Regenerate COVERAGE.md: one row per driver-contract query with its
oracle status and the operator modules it exercises.

The table is derived from __spark_entry__ itself (queries() keys, presence
of an oracle_sql() twin, the _q_* docstring's first sentence, and the
package modules referenced in the function body), so it cannot drift from
the contract: rerun after adding a query.

Usage: python scripts/gen_coverage.py   (writes COVERAGE.md at repo root)
"""

from __future__ import annotations

import inspect
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

_MODULE_RE = re.compile(
    r"\b(?:dedup|matching|blocking|classify|clustering|evaluate|window|hlsh|"
    r"similarity|multimodal|text|ranking|streaming_jobs|streaming_state|"
    r"extract|oracles|testdata|pipeline)\b"
)


_HELPER_RE = re.compile(r"\b(_[a-z]\w*)\(")


def _modules_used(fn) -> str:
    body = inspect.getsource(fn)
    # follow one level of this module's private helpers (e.g. the shared
    # classify -> block prelude) so a query is credited with their modules
    for name in dict.fromkeys(_HELPER_RE.findall(body)):
        helper = getattr(entry, name, None)
        if inspect.isfunction(helper):
            body += inspect.getsource(helper)
    seen: list[str] = []
    for m in _MODULE_RE.findall(body):
        if m not in seen:
            seen.append(m)
    return ", ".join(seen) or "plans"


def _first_sentence(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    doc = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", doc)
    s = m.group(1) if m else doc
    if len(s) > 140:
        s = s[:140].rsplit(" ", 1)[0] + " ..."
    return s


def main() -> None:
    qs = entry.queries()
    oracles = entry.oracle_sql()
    lines = [
        "# COVERAGE — driver-contract query inventory",
        "",
        "Generated by `python scripts/gen_coverage.py`; do not edit by hand.",
        "Every row is a `queries()` entry the grading driver runs at sf0.01.",
        "`value` = full DuckDB twin in `oracle_sql()` (row count + schema +",
        "value hash compared); `rows-only` = no SQL-expressible twin (the",
        "reason is in the query's docstring; unit/golden tests pin it).",
        "",
        f"Totals: {len(qs)} queries, {len(set(qs) & set(oracles))} value-checked, "
        f"{len(set(qs) - set(oracles))} rows-only.",
        "",
        "Scale invariance: the identical compare (scripts/check_contract.py)",
        "also ran at sf0.1 — 10× the graded scale — on 2026-08-19: the full",
        "sweep covered the 63 queries then registered (graded 50 + extras),",
        "and each later round-5 addition was value-checked at sf0.1 on",
        "landing (appended lines). All green on rows + schema + value hash,",
        "including 365,375 candidate pairs and 3,236 matches value-hashed",
        "(`BENCH/r5_contract_sf0.1.log`).",
        "",
        "| query | oracle | modules exercised | what it checks |",
        "| --- | --- | --- | --- |",
    ]
    for name, fn in qs.items():
        status = "value" if name in oracles else "rows-only"
        lines.append(
            f"| `{name}` | {status} | {_modules_used(fn)} | {_first_sentence(fn)} |"
        )
    extras, extra_oracles = entry.extra_queries(), entry.extra_oracle_sql()
    lines += [
        "",
        "## extra_queries() — outside the driver's 50-query window",
        "",
        "The driver records CORRECTNESS for exactly the first 50 `queries()`",
        "entries. ROUND-5 ROTATION: the round-4 sit-outs returned to the",
        "graded window (so CORRECTNESS_r04 + r05 again covers every",
        "rotating query with an official row), which parks the 12 r4-graded",
        "queries here, alongside `ann_ivf_recall_seeded` (the r4-graded",
        "seeded-quantizer algorithm; its trained successor holds the graded",
        "slot) and the round-5 engine additions (line dedup, NFC hygiene,",
        "the composed clean pipeline, Gopher rules, sequence packing,",
        "tf-idf, PMI). Identical contract and DuckDB twins; value-checked",
        "by `tests/test_rel_parity.py` with the driver's own compare at",
        "sf0.01 and by `scripts/check_contract.py` at sf0.1.",
        "",
        f"Totals: {len(extras)} queries, "
        f"{len(set(extras) & set(extra_oracles))} value-checked.",
        "",
        "| query | oracle | modules exercised | what it checks |",
        "| --- | --- | --- | --- |",
    ]
    for name, fn in extras.items():
        status = "value" if name in extra_oracles else "rows-only"
        lines.append(
            f"| `{name}` | {status} | {_modules_used(fn)} | {_first_sentence(fn)} |"
        )
    out = os.path.join(ROOT, "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(qs)} queries")


if __name__ == "__main__":
    main()
