"""Executable skip register (round-11 verdict ask #6, no Spark needed).

Every skip construct in tests/ must map to a registered boundary class
(gate / corpus / container / checkout) — a NEW skip with an
unregistered reason fails here, so a skip can never again be an
unexplained gap. The committed SKIPS.md must match the scan (the
CATALOG.md pattern: generated inventory, drift fails loudly).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import skips_audit as sa  # noqa: E402


def test_every_skip_construct_is_registered():
    sites, unregistered = sa.classify(sa.scan())
    assert sites, "scan found no skip constructs — the AST walk broke"
    assert not unregistered, [
        f"{s['file']}:{s['line']} {s['reason'][:100]}" for s in unregistered
    ]


def test_bare_and_positional_skip_constructs_are_scanned(tmp_path, monkeypatch):
    """A bare @pytest.mark.skip decorator has no Call node and a
    positional-reason skip has no keyword — both must still be scanned
    (the bare one surfaces as unregistered, reason empty)."""
    src = (
        "import pytest\n"
        "@pytest.mark.skip\n"
        "def test_a():\n    pass\n"
        "@pytest.mark.skip('flaky on Tuesdays')\n"
        "def test_b():\n    pass\n"
    )
    (tmp_path / "test_fake.py").write_text(src)
    monkeypatch.setattr(sa, "TESTS", tmp_path)
    sites, unregistered = sa.classify(sa.scan())
    kinds = sorted(s["kind"] for s in sites)
    assert kinds == ["bare-skip", "skipif"], sites
    assert len(unregistered) == 2  # neither matches a register entry


def test_unregistered_reason_is_flagged():
    """Negative control: a novel skip reason must NOT match any
    register entry (patterns are tight, not catch-alls)."""
    fake = [{"file": "x.py", "line": 1, "kind": "skip",
             "reason": "flaky on Tuesdays, skipping for now"}]
    _, unregistered = sa.classify(fake)
    assert unregistered == fake


def test_render_md_degrades_on_unregistered_sites():
    """ADVICE r11: render_md sorted on s['class'], which unregistered
    sites lack — `--md` crashed with KeyError exactly when a new
    unexplained skip existed. It must render the table with an
    UNREGISTERED class cell instead (the nonzero exit still flags it)."""
    sites, _ = sa.classify(
        [
            {"file": "x.py", "line": 1, "kind": "skip",
             "reason": "flaky on Tuesdays, skipping for now"},
            {"file": "y.py", "line": 2, "kind": "skipif",
             "reason": "requires google.protobuf in the Python worker"},
        ]
    )
    md = sa.render_md(sites)
    assert "**UNREGISTERED**" in md
    assert "flaky on Tuesdays" in md


def test_gate_class_dominates_runtime_skips():
    """The ~100 runtime skips flow from the gate/corpus markers reused
    across the scale-probe suite — pin that those classes exist and
    that the container class names only the two documented boundaries
    (protobuf, wheel). A third container skip means a new environment
    boundary that needs a SCALE.md row."""
    sites, _ = sa.classify(sa.scan())
    by_class: dict[str, list[dict]] = {}
    for s in sites:
        by_class.setdefault(s["class"], []).append(s)
    assert set(by_class) <= {"gate", "corpus", "container", "checkout"}
    assert len(by_class.get("container", [])) == 2, by_class.get("container")


def test_committed_skips_md_matches_scan():
    """Drift check keyed on (file, kind, reason) — NOT line numbers,
    which shift with any unrelated edit above a skip site."""
    sites, _ = sa.classify(sa.scan())
    md = (Path(sa.REPO) / "SKIPS.md").read_text()
    for s in sites:
        needle = f"`{s['file']}` | {s['kind']} | **{s['class']}** | {s['reason'][:80]}"
        assert needle in md, (
            f"{s['file']} ({s['reason'][:60]}...) missing/stale in SKIPS.md "
            "— rerun `python tools/skips_audit.py --md > SKIPS.md`"
        )
    # and no stale rows: the table has exactly one row per site
    assert md.count("| skipif |") + md.count("| skip |") + md.count(
        "| importorskip |"
    ) == len(sites)
