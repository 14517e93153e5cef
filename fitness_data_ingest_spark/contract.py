"""Driver-contract surface table.

Generates, from the registry itself, the one-table audit view of the
driver contract: every registered key with its domain module and
oracle type (DuckDB hash vs rows-only). The rendered markdown
is checked into ``README.md`` between the ``CONTRACT-TABLE`` markers
and pytest-pinned against this generator, so the table can never
drift from ``registry.all_queries()``.

Regenerate in place:  ``python -m fitness_data_ingest_spark.contract``
"""

from __future__ import annotations

import os
import re

BEGIN = "<!-- CONTRACT-TABLE:BEGIN (generated: python -m fitness_data_ingest_spark.contract) -->"
END = "<!-- CONTRACT-TABLE:END -->"


def contract_rows() -> list[dict[str, str]]:
    """One dict per registry key, alphabetical by key."""
    from . import registry as R

    module_of = {key: name for name, fam in R.FAMILIES for key in fam}
    aq = R.all_queries()
    return [
        {
            "key": key,
            "module": module_of[key],
            "oracle": "hash" if aq[key].sql is not None else "rows-only",
        }
        for key in sorted(aq)
    ]


def render_markdown() -> str:
    rows = contract_rows()
    n_hash = sum(1 for r in rows if r["oracle"] == "hash")
    lines = [
        BEGIN,
        "",
        f"{len(rows)} registered keys — {n_hash} DuckDB-hash-oracle-paired, "
        f"{len(rows) - n_hash} rows-only by design. Rows are alphabetical by key.",
        "",
        "| # | key | module | oracle |",
        "|---|-----|--------|--------|",
    ]
    for i, r in enumerate(rows, 1):
        lines.append(
            f"| {i} | `{r['key']}` | {r['module']} | {r['oracle']} |"
        )
    lines += ["", END]
    return "\n".join(lines)


def update_readme(readme_path: str | None = None) -> bool:
    """Rewrite the README block in place; returns True if it changed."""
    if readme_path is None:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        readme_path = os.path.join(here, "README.md")
    with open(readme_path) as f:
        text = f.read()
    block = render_markdown()
    if BEGIN in text:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _m: block,
            text,
            flags=re.S,
        )
    else:
        new = text.rstrip() + "\n\n## Driver contract surface\n\n" + block + "\n"
    changed = new != text
    if changed:
        with open(readme_path, "w") as f:
            f.write(new)
    return changed


if __name__ == "__main__":
    print("updated" if update_readme() else "unchanged")
