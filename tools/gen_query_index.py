"""Generate QUERIES.md — the navigable index of every registered t2 query.

Run: python tools/gen_query_index.py   (rewrites QUERIES.md at repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_integration_spark.queries import ORACLES, QUERIES, load_all  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — ", " -- "):
        if stop in text:
            return text.split(stop, 1)[0].rstrip(".") + "."
    return text[:140]


def main() -> None:
    load_all()
    lines = [
        "# QUERIES — index of the registered t2 surface (generated)",
        "",
        "Regenerate with `python tools/gen_query_index.py`. 'oracle' = the",
        "driver value-checks the query against DuckDB SQL; 'rows-only' = the",
        "contract's escape hatch (stochastic / engine-internal hashing), with",
        "the real assertion in pytest (see COVERAGE.md for the mapping).",
        "",
        "| # | query | module | check | what it does |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(QUERIES.items(), 1):
        mod = fn.__module__.rsplit(".", 1)[-1]
        check = "oracle" if name in ORACLES else "rows-only"
        desc = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {mod} | {check} | {desc} |")
    n_oracle = len(ORACLES)
    lines += [
        "",
        f"**{len(QUERIES)} queries — {n_oracle} oracle-checked, "
        f"{len(QUERIES) - n_oracle} rows-only.**",
        "",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "QUERIES.md",
    )
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(QUERIES)} queries, {n_oracle} oracles")


if __name__ == "__main__":
    main()
