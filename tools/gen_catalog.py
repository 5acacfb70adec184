#!/usr/bin/env python
"""Generate CATALOG.md — the full registered-query inventory, grouped by
module, with oracle status and the first docstring line. Re-run after
adding operators:

    python tools/gen_catalog.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreducegcp_spark.registry import all_queries

HEADER = """# Query catalog

Every operator registered in `queries()` (the driver contract), grouped
by module. **oracle** = checked against an equivalent DuckDB SQL query
(row count + schema + order-insensitive value hash, floats bit-exact);
**rows-only** = engine-specific hashing or approximate semantics, with
the exact counterpart validated in `tests/` instead (recall floors,
property tests). Generated by `tools/gen_catalog.py` — do not edit.
"""


RETIRED_NAMES = """
## Retired names (lineage for CORRECTNESS_r* audits)

Seven names that appear with green rows in earlier CORRECTNESS /
SWEEP100 artifacts were FOLDED into successor queries, not dropped —
anyone diffing the registry against those artifacts should map them as
follows:

| retired name (last green) | absorbed into (round) | what changed |
|---|---|---|
| `similarity_ann_lsh_recall` (r2) | `similarity_ann_lsh` (r3) | raw rows-only top-k + separate recall row merged into one oracle-checked recall GATE |
| `similarity_ann_ivf_recall` (r2) | `similarity_ann_ivf` (r3) | same fold |
| `similarity_ann_pq_recall` (r2) | `similarity_ann_pq` (r3) | same fold |
| `agg_approx_distinct` (never green) | `agg_approx_distinct_tol` (r1) | HLL output is engine-specific; re-registered with an explicit tolerance gate the oracle can state |
| `dedup_clusters_recursive_sql` (r11) | `dedup_connected_components` | alias that only picked a components engine (same oracle); every cluster consumer now runs `local_uf_components` |
| `dedup_clusters_twophase` (r11) | `dedup_connected_components` | same fold; two-phase remains as the served engine's fallback |
| `dedup_clusters_localuf` (r11) | `dedup_connected_components` | same fold; its engine now serves every cluster consumer |

The raw ANN top-k plans remain public as the unregistered
`q_similarity_ann_{lsh,ivf,pq}` functions (tests call them directly);
the registered names carry the hash-checkable gates.
"""


def main() -> None:
    by_mod: dict[str, list] = defaultdict(list)
    for name, rq in sorted(all_queries().items()):
        mod = rq.fn.__module__.rsplit(".", 1)[-1]
        doc = (rq.fn.__doc__ or "").strip().split("\n")[0].strip()
        by_mod[mod].append((name, rq.oracle is not None, doc))

    lines = [HEADER]
    total = n_oracle = 0
    for mod in sorted(by_mod):
        lines.append(f"\n## {mod}\n")
        lines.append("| query | check | summary |")
        lines.append("|---|---|---|")
        for name, has_oracle, doc in by_mod[mod]:
            total += 1
            n_oracle += has_oracle
            kind = "oracle" if has_oracle else "rows-only"
            lines.append(f"| `{name}` | {kind} | {doc} |")
    lines.append(
        f"\n**{total} queries; {n_oracle} oracle-checked, "
        f"{total - n_oracle} rows-only.**"
    )
    lines.append(RETIRED_NAMES)
    Path(__file__).resolve().parent.parent.joinpath("CATALOG.md").write_text(
        "\n".join(lines) + "\n"
    )
    print(f"CATALOG.md: {total} queries ({n_oracle} oracle)")


if __name__ == "__main__":
    main()
