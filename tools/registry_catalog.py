"""Generate REGISTRY.md: one line per registered query — the
machine-written index of the engine's whole operator surface.

Each row: entry name, the first sentence of the registered function's
docstring (the human contract), and whether its DuckDB oracle is an
exact value replay or a value-checked CONTRACT (recall floor / error
bound / replayed arithmetic). Regenerate after adding entries:

    python tools/registry_catalog.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from elb_log_to_mysql_spark.queries import ORACLE_SQL, QUERIES  # noqa: E402

CONTRACT_MARKERS = (
    "recall_floor", "recall floor", "error bound", "within_bound",
    "est_ok", "bound_ok", "floor_met", "_in_bound", "cms_est",
    "never_undercount",
)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(see queries.py)"
    text = " ".join(doc.split())
    m = re.match(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text
    return s[:160] + ("…" if len(s) > 160 else "")


def render() -> str:
    """REGISTRY.md's full text for the currently registered queries."""
    lines = [
        "# REGISTRY — every registered query (generated by "
        "tools/registry_catalog.py)",
        "",
        f"{len(QUERIES)} entries; every one carries a DuckDB oracle. "
        "Oracle kind: `exact` = bit-for-bit value replay; `contract` = "
        "value-checked recall floor / error bound / replayed arithmetic "
        "(the oracle still recomputes the exact reference quantities).",
        "",
        "| entry | oracle | what it computes |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        doc = getattr(fn, "__wrapped__", fn).__doc__ or fn.__doc__
        # the registry decorator wraps; the original fn holds the doc
        inner = fn.__dict__.get("__wrapped__")
        if doc is None and inner is not None:
            doc = inner.__doc__
        sql = ORACLE_SQL.get(name, "")
        kind = (
            "contract"
            if any(m in sql.lower() for m in CONTRACT_MARKERS)
            else "exact"
        )
        lines.append(f"| {name} | {kind} | {first_sentence(doc)} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(REPO, "REGISTRY.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out} ({len(QUERIES)} entries)")


if __name__ == "__main__":
    main()
