"""tools/plan_audit.py keeps the hand-written notes of PLANS.md and
refuses to rewrite a PLANS.md whose notes marker is gone."""

from __future__ import annotations

import pytest

from tools.plan_audit import NOTES_MARKER, preserved_notes


def test_notes_kept_from_marker(tmp_path):
    p = tmp_path / "PLANS.md"
    p.write_text(f"# generated\n\n{NOTES_MARKER}\nhand notes\n")
    assert preserved_notes(str(p)) == f"{NOTES_MARKER}\nhand notes\n"
    assert preserved_notes(str(tmp_path / "absent.md")) == ""


def test_missing_marker_fails_loudly(tmp_path):
    p = tmp_path / "PLANS.md"
    p.write_text("# generated\n\nhand notes without the marker\n")
    with pytest.raises(SystemExit, match="lacks the notes marker"):
        preserved_notes(str(p))
    assert p.read_text() == "# generated\n\nhand notes without the marker\n"
