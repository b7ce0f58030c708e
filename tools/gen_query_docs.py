"""Generate docs/QUERIES.md from the registry (key, check type, doc)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_hyper_app_spark.registry import load_all  # noqa: E402

HEADER = """# Query catalogue (auto-generated — `python tools/gen_query_docs.py`)

Every declared operator: registry key, correctness check type
(oracle = DuckDB value-hash; rows-only = documented necessity), and
the implementation's own description. Implementations live under
`parquet_to_hyper_app_spark/`; find them with `grep -rn "<key>"`.
"""


#: the generated file, relative to the repo root
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "QUERIES.md")


def render(specs: dict) -> str:
    """The catalogue text for registry ``specs`` (`load_all()`)."""
    lines = [HEADER]
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    lines.append(
        f"\n**{len(specs)} queries: {n_oracle} oracle-checked, "
        f"{len(specs) - n_oracle} rows-only.**\n"
    )
    for key in sorted(specs):
        spec = specs[key]
        check = "oracle" if spec.oracle else "rows-only"
        doc = " ".join(spec.doc.split()) or "(no doc)"
        lines.append(f"\n### `{key}` — {check}\n\n{doc}\n")
    return "".join(lines)


def main() -> int:
    specs = load_all()
    with open(OUT, "w") as f:
        f.write(render(specs))
    print(f"wrote {OUT}: {len(specs)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
