"""Regenerate QUERIES.md from the query registry docstrings.

Run from the repo root after adding/renaming queries or editing their
docstrings (tests/test_queries_oracle.py fails while the file is stale):
    python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# QUERIES — the declared inventory

Generated from `mapreducehs_spark/queries/` docstrings (by
`tools/gen_queries_md.py`).  Every query is a `(spark, sf_dir) ->
DataFrame` callable; **oracle** means the driver hash-compares it
against the DuckDB SQL in `ORACLE`; *rows-only* queries are
approximate-by-construction (hash-seeded LSH, sketches) and are pinned
by recall/equivalence tests instead.

| Query | Check | What it witnesses |
|---|---|---|
"""


def first_sentences(doc: str | None, width: int = 175) -> str:
    text = re.sub(r"\s+", " ", (doc or "").strip())
    if len(text) > width:
        text = text[:width].rstrip() + "..."
    return text.replace("|", "\\|")


def render() -> str:
    """QUERIES.md's full text, from the registry as it stands."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    rows = []
    for name in sorted(qs):
        check = "oracle" if name in oracles else "rows-only"
        rows.append(f"| `{name}` | {check} | {first_sentences(qs[name].__doc__)} |")
    footer = (
        f"\n{len(qs)} queries; {len(oracles)} oracle-checked, "
        f"{len(qs) - len(oracles)} rows-only.\n"
    )
    return HEADER + "\n".join(rows) + "\n" + footer


def main() -> None:
    text = render()
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write(text)
    print(f"QUERIES.md: {text.splitlines()[-1]}")


if __name__ == "__main__":
    main()
