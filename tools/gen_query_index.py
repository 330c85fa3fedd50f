"""Generate QUERIES.md: one line per registered query — name, check
(oracle / rows-only), whether it is in the driver window (the first
``registry.DRIVER_WINDOW`` names), implementing function with
file:line, and the first docstring sentence.  Regenerate after adding
operators or after a new CORRECTNESS_r*.json lands:
python tools/gen_query_index.py
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ml_feature_store_enterprise_grade_spark import registry


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", ".  "):
        i = text.find(stop)
        if 0 < i < 240:
            return text[: i + 1]
    return text[:240]


def main() -> int:
    registry.load_all()
    rows = []
    visible = registry.queries()
    window_set = frozenset(list(visible)[: registry.DRIVER_WINDOW])
    for name, fn in visible.items():
        f = inspect.unwrap(fn)
        src = os.path.relpath(f.__code__.co_filename, REPO)
        line = f.__code__.co_firstlineno
        kind = "rows-only" if name in registry.ROWS_ONLY else "oracle"
        window = "window" if name in window_set else ""
        rows.append((name, kind, window, f"{src}:{line}", first_sentence(f.__doc__)))

    out = [
        "# QUERIES — registered operator index\n",
        f"\n{len(rows)} registered queries "
        f"({len(registry.ROWS_ONLY)} rows-only). "
        "Generated by `tools/gen_query_index.py`; every `oracle` row is "
        "value-hash-checked against DuckDB by `tools/parity.py`, `window` "
        f"marks the first-{registry.DRIVER_WINDOW} driver check set for the "
        "CURRENT round.\n\n",
        "| Query | Check | Window | Source | Summary |\n",
        "|---|---|---|---|---|\n",
    ]
    for name, kind, window, loc, summary in sorted(rows):
        summary = summary.replace("|", "\\|")
        out.append(f"| `{name}` | {kind} | {window} | `{loc}` | {summary} |\n")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.writelines(out)
    print(f"wrote QUERIES.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
