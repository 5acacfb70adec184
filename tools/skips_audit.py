#!/usr/bin/env python
"""Executable skip register — every pytest skip maps to a boundary class.

The suite carries ~100 runtime skips, all flowing from a small set of
skip CONSTRUCTS (markers reused across many tests, inline pytest.skip
calls). Each was a well-reasoned string; nothing asserted that a NEW
unexplained skip can't slip in (round-10 verdict ask #6). This tool is
the codec-seam pattern applied to skips: an AST scan finds every skip
construct in tests/, each must match exactly one REGISTER entry naming
its boundary class, and the ungated test fails on any unregistered
site — so adding a skip forces registering WHY it is a boundary, not a
gap.

Boundary classes:

- ``gate``     opt-in scale/probe work (RUN_SCALE_PROBE=1): excluded
               from default runs by design, re-earned per round.
- ``corpus``   needs the /tmp blowup corpora (built per round by
               tools/blowup_probe.py; /tmp does not ship with the repo).
- ``container`` this no-pip container lacks a library/binary the test
               needs; the capability is covered by a documented
               substitute (SCALE.md boundary rows).

    python tools/skips_audit.py          # print table + verdict
    python tools/skips_audit.py --md     # emit SKIPS.md content
"""

from __future__ import annotations

import argparse
import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TESTS = REPO / "tests"

# (regex over the skip's reason/module expression) -> (class, note).
# Keep patterns tight enough that a NEW skip with a novel reason does
# NOT silently match an old entry.
REGISTER: list[tuple[str, str, str]] = [
    (
        r"RUN_SCALE_PROBE=1",
        "gate",
        "opt-in scale receipts (1x/10x probes, full-volume engine "
        "checks, windows measurement, streaming replay) — re-run per round "
        "under the gate; default runs stay minutes, not hours",
    ),
    (
        r"slow 1x/10x probe",
        "gate",
        "the scale-probe suite's shared marker (RUN_SCALE_PROBE opt-in)",
    ),
    (
        r"blowup corp(us|ora) absent|tools/blowup_probe\.py --build",
        "corpus",
        "needs /tmp/blowup corpora rebuilt per round (not shipped)",
    ),
    (
        r"google\.protobuf",
        "container",
        "transformWithStateInPandas worker needs protobuf (absent, "
        "no-pip container); capability covered by applyInPandasWithState "
        "(driver-green, RocksDB-probed) — SCALE.md boundary row",
    ),
    (
        r"`?wheel`? absent|packaging boundary",
        "container",
        "wheel build unverifiable in-container; sdist via PEP 517 hooks "
        "is test-pinned — SCALE.md boundary row",
    ),
]


def _literal_text(node: ast.AST) -> str:
    """Best-effort text of a reason expression: joined literal
    fragments of f-strings/concats, else the unparsed source."""
    parts: list[str] = []
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            parts.append(sub.value)
    return " ".join(parts) if parts else ast.unparse(node)


def scan() -> list[dict]:
    """Every skip construct in tests/: pytest.skip / pytest.importorskip
    calls and skipif markers (including marker ASSIGNMENTS reused across
    tests), with file:line and extracted reason text."""
    sites: list[dict] = []
    for f in sorted(TESTS.glob("*.py")):
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = ast.unparse(node.func)
            kind = None
            reason: str | None = None
            if name == "pytest.skip":
                kind = "skip"
                reason = _literal_text(node.args[0]) if node.args else ""
            elif name == "pytest.importorskip":
                kind = "importorskip"
                reason = _literal_text(node.args[0]) if node.args else ""
            elif name.endswith(".skipif") or name == "pytest.mark.skip":
                kind = "skipif"
                kw = next((k for k in node.keywords if k.arg == "reason"), None)
                if kw is not None:
                    reason = _literal_text(kw.value)
                elif name == "pytest.mark.skip" and node.args:
                    reason = _literal_text(node.args[0])  # positional reason
                else:
                    reason = ""
            if kind is None:
                continue
            sites.append(
                {
                    "file": f.name,
                    "line": node.lineno,
                    "kind": kind,
                    "reason": re.sub(r"\s+", " ", reason or "").strip(),
                }
            )
        # bare decorators (@pytest.mark.skip with no call) carry no
        # reason at all — they must surface as unregistered sites, not
        # evade the scan because there is no Call node to find
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                for dec in node.decorator_list:
                    if (
                        isinstance(dec, ast.Attribute)
                        and ast.unparse(dec) == "pytest.mark.skip"
                    ):
                        sites.append(
                            {"file": f.name, "line": dec.lineno,
                             "kind": "bare-skip", "reason": ""}
                        )
    return sites


def classify(sites: list[dict]) -> tuple[list[dict], list[dict]]:
    """Attach (class, note) per site; return (classified, unregistered)."""
    unregistered = []
    for s in sites:
        hit = next(
            ((cls, note) for pat, cls, note in REGISTER if re.search(pat, s["reason"])),
            None,
        )
        if hit is None:
            unregistered.append(s)
        else:
            s["class"], s["note"] = hit
    return sites, unregistered


def render_md(sites: list[dict]) -> str:
    lines = [
        "# Skip register",
        "",
        "Every pytest skip construct, mapped to its boundary class — "
        "generated by `tools/skips_audit.py` and asserted in "
        "`tests/test_skips_register.py` (an unregistered skip fails the "
        "suite). Runtime skip counts are dominated by the `gate` class: "
        "one shared marker gates the whole scale-probe suite.",
        "",
        "| site | kind | class | reason (extracted) |",
        "|---|---|---|---|",
    ]
    # unregistered sites carry no 'class' — --md must still render the
    # table (plus their UNREGISTERED rows) in exactly the situation the
    # tool exists for; the nonzero exit still flags them
    for s in sorted(
        sites, key=lambda s: (s.get("class", "UNREGISTERED"), s["file"], s["line"])
    ):
        # no line numbers in the committed table: they shift with any
        # unrelated edit above a site; (file, kind, reason) is the key
        lines.append(
            f"| `{s['file']}` | {s['kind']} | **{s.get('class', 'UNREGISTERED')}** "
            f"| {s['reason'][:140]} |"
        )
    lines += [
        "",
        "Class definitions and the substitutes covering each `container` "
        "boundary are in the tool's docstring and SCALE.md.",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--md", action="store_true", help="print SKIPS.md content")
    args = ap.parse_args()
    sites, unregistered = classify(scan())
    if args.md:
        print(render_md(sites))
    else:
        for s in sites:
            print(
                f"{s['file']}:{s['line']} [{s.get('class', 'UNREGISTERED')}] "
                f"{s['kind']}: {s['reason'][:100]}"
            )
        print(f"\n{len(sites)} skip constructs; {len(unregistered)} unregistered")
    for s in unregistered:
        print(f"UNREGISTERED: {s['file']}:{s['line']} {s['reason'][:140]}", file=sys.stderr)
    return 1 if unregistered else 0


if __name__ == "__main__":
    sys.exit(main())
