"""Hermetic tests for tools/mutant_screen.py's harness logic.

The screen's VERDICTS are exercised continuously (52/52 KILLED per
round), but the harness paths added for ADVICE r13 — the pristine-tree
baseline that demotes mutants to INVALID when their killer files are
already red, and the per-mutant TimeoutExpired recovery — only fire in
degraded states a healthy tree never reaches.  These tests build a
throwaway fake repo under tmp_path, monkeypatch the module's REPO and
MUTANTS globals, and drive main() through each path.  No Spark: the
fake killer tests are plain asserts, so each inner pytest run is fast.
"""
from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import types

import pytest


def _load_screen(tmp_path, monkeypatch, mutants, files, argv=()):
    """Import a fresh mutant_screen module pointed at a fake repo."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        f"mutant_screen_{len(str(tmp_path))}",
        os.path.join(repo, "tools", "mutant_screen.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    (tmp_path / "tests").mkdir()
    for rel, body in files.items():
        (tmp_path / rel).write_text(body)
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    monkeypatch.setattr(mod, "MUTANTS", mutants)
    monkeypatch.setattr(sys, "argv", ["mutant_screen.py", *argv])
    return mod


# killer that imports the fake source next to the repo root and pins X
_KILLER_PINS_X = (
    "import os, sys\n"
    "sys.path.insert(0, os.path.dirname(os.path.dirname("
    "os.path.abspath(__file__))))\n"
    "import fake_src\n"
    "def test_x():\n"
    "    assert fake_src.X == 1\n"
)


def test_screen_kills_a_real_mutant(tmp_path, monkeypatch, capsys):
    """Happy path end-to-end: green baseline, mutant flips the pinned
    clause, killer fails, verdict KILLED, exit 0, source restored."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    assert mod.main() == 0
    out = capsys.readouterr().out
    assert "baseline: pytest over 1 killer file(s)" in out
    assert "T1 flip X: KILLED" in out
    assert (tmp_path / "fake_src.py").read_text() == "X = 1\n"


def test_screen_reports_survivor_nonzero(tmp_path, monkeypatch, capsys):
    """A mutant no killer can see must be SURVIVED and fail the screen —
    the whole point of the tool."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "invisible flip", "fake_src.py", "Y = 9", "Y = 8",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\nY = 9\n",
               "tests/test_k.py": _KILLER_PINS_X},
    )
    assert mod.main() == 1
    assert "T1 invisible flip: SURVIVED" in capsys.readouterr().out


def test_screen_baseline_demotes_red_killers_to_invalid(
        tmp_path, monkeypatch, capsys):
    """ADVICE r13: a killer file that is already red UNMUTATED must not
    vouch for its mutants.  Route one mutant to a broken killer and one
    to a healthy killer: the first is INVALID (never KILLED — before the
    baseline existed it reported KILLED spuriously), the second still
    runs and kills, and the screen exits non-zero."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[
            ("T1", "routed to broken killer", "fake_src.py",
             "Y = 9", "Y = 8", ["tests/test_broken.py"]),
            ("T2", "routed to healthy killer", "fake_src.py",
             "X = 1", "X = 2", ["tests/test_k.py"]),
        ],
        files={
            "fake_src.py": "X = 1\nY = 9\n",
            "tests/test_k.py": _KILLER_PINS_X,
            "tests/test_broken.py": "def test_always_red():\n    assert False\n",
        },
    )
    assert mod.main() == 1
    out = capsys.readouterr().out
    assert "baseline RED in: ['tests/test_broken.py']" in out
    assert "T1 routed to broken killer: INVALID (killer red unmutated)" in out
    assert "T2 routed to healthy killer: KILLED" in out
    # the INVALID mutant was never applied, the killed one was restored
    assert (tmp_path / "fake_src.py").read_text() == "X = 1\nY = 9\n"


def test_screen_records_timeout_and_continues(tmp_path, monkeypatch, capsys):
    """ADVICE r13: a hung killer run must record TIMEOUT (non-KILLED) and
    let the remaining mutants complete — previously TimeoutExpired
    propagated and lost the whole summary.  The baseline and the second
    mutant use the real subprocess; only T1's mutant run raises."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[
            ("T1", "hangs", "fake_src.py", "Y = 9", "Y = 8",
             ["tests/test_k.py"]),
            ("T2", "killed after the hang", "fake_src.py", "X = 1", "X = 2",
             ["tests/test_k.py"]),
        ],
        files={"fake_src.py": "X = 1\nY = 9\n",
               "tests/test_k.py": _KILLER_PINS_X},
    )
    real_run = mod.subprocess.run
    state = {"mutant_runs": 0}

    def fake_run(cmd, **kw):
        if "-x" in cmd:  # per-mutant invocation (baseline has no -x)
            state["mutant_runs"] += 1
            if state["mutant_runs"] == 1:
                raise subprocess.TimeoutExpired(cmd, kw.get("timeout", 0))
        return real_run(cmd, **kw)

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    assert mod.main() == 1  # TIMEOUT is non-KILLED
    out = capsys.readouterr().out
    assert "T1 hangs: TIMEOUT" in out
    assert "T2 killed after the hang: KILLED" in out
    # the hung mutant's edit was restored by the finally
    assert (tmp_path / "fake_src.py").read_text() == "X = 1\nY = 9\n"


def test_screen_site_error_on_ambiguous_snippet(tmp_path, monkeypatch, capsys):
    """A non-unique original snippet must refuse to mutate (editing the
    wrong site would screen a clause nobody wrote)."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "ambiguous site", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\nX = 1\n",
               "tests/test_k.py": _KILLER_PINS_X},
    )
    assert mod.main() == 1
    assert "T1 ambiguous site: SITE-ERROR (count=2)" in capsys.readouterr().out


def test_screen_refuses_dirty_target_files(tmp_path, monkeypatch, capsys):
    """VERDICT r15 task 2: the end-of-round snapshot committed mutant M60
    because the screen ran (and mutated) over tree state a commit could
    capture.  The screen must now refuse to START when a mutation target
    file is dirty vs HEAD — mutating on top of uncommitted changes makes
    any mid-run snapshot unattributable.  Build a REAL git repo in
    tmp_path (the other hermetic tests use a bare directory, which the
    check deliberately skips), commit the pristine source, dirty it, and
    require the rc-2 refusal with no pytest baseline ever run."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
           "HOME": str(tmp_path), "PATH": os.environ["PATH"]}
    for cmd in (["git", "init", "-q"], ["git", "add", "-A"],
                ["git", "commit", "-qm", "pristine"]):
        subprocess.run(cmd, cwd=tmp_path, check=True, env=env,
                       capture_output=True)
    (tmp_path / "fake_src.py").write_text("X = 1\n# uncommitted edit\n")
    assert mod.main() == 2
    out = capsys.readouterr().out
    assert "REFUSING to run" in out
    assert "fake_src.py" in out
    assert "baseline: pytest" not in out  # refused before any pytest run
    # an untouched clean repo passes the guard and completes normally
    subprocess.run(["git", "add", "-A"], cwd=tmp_path, check=True, env=env,
                   capture_output=True)
    subprocess.run(["git", "commit", "-qm", "edit"], cwd=tmp_path,
                   check=True, env=env, capture_output=True)
    assert mod.main() == 0
    assert "T1 flip X: KILLED" in capsys.readouterr().out


def test_screen_refuses_untracked_target_files(tmp_path, monkeypatch, capsys):
    """ADVICE r16 item 2: ``git diff HEAD`` only reports modified TRACKED
    files, so a mutation target that is untracked (new, never committed)
    used to pass the dirty-tree guard even though a mid-run snapshot
    commit of it would be equally unattributable.  Build a real repo,
    commit only the killer, leave the target untracked, and require the
    rc-2 refusal before any pytest run."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
           "HOME": str(tmp_path), "PATH": os.environ["PATH"]}
    for cmd in (["git", "init", "-q"], ["git", "add", "tests/test_k.py"],
                ["git", "commit", "-qm", "killer only"]):
        subprocess.run(cmd, cwd=tmp_path, check=True, env=env,
                       capture_output=True)
    assert mod.main() == 2
    out = capsys.readouterr().out
    assert "REFUSING to run" in out
    assert "fake_src.py" in out
    assert "baseline: pytest" not in out  # refused before any pytest run
    # committing the target clears the guard and the screen completes
    for cmd in (["git", "add", "-A"], ["git", "commit", "-qm", "target"]):
        subprocess.run(cmd, cwd=tmp_path, check=True, env=env,
                       capture_output=True)
    assert mod.main() == 0
    assert "T1 flip X: KILLED" in capsys.readouterr().out


def test_screen_fresh_init_refuses_via_untracked_leg(
        tmp_path, monkeypatch, capsys):
    """ADVICE r17 item 2 (supersedes the r16 warn-and-proceed pin): a
    fresh ``git init`` with no commits has ``.git`` but no HEAD, so ``git
    diff HEAD`` fails — but ``git ls-files --others`` alone still runs
    and flags every existing target as untracked, i.e. unattributable
    under a mid-run snapshot commit.  The guard must fall through to that
    leg and REFUSE, not disable both legs with a warning (the previous,
    weaker behavior)."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    env = {"HOME": str(tmp_path), "PATH": os.environ["PATH"]}
    subprocess.run(["git", "init", "-q"], cwd=tmp_path, check=True, env=env,
                   capture_output=True)
    assert mod.main() == 2
    out = capsys.readouterr().out
    assert "REFUSING to run" in out
    assert "fake_src.py" in out
    assert "baseline: pytest" not in out  # refused before any pytest run


def test_screen_refuses_when_no_git_state_readable(
        tmp_path, monkeypatch, capsys):
    """ADVICE r18 item 1, tightening the r16/r17 shape: when NO git state
    at all can be read (both legs fail) in anything that looks like a git
    checkout (``.git`` exists), the guard REFUSES (exit 2) instead of
    degrading to warn-and-proceed — the M60 snapshot-attribution window
    is exactly the case the guard exists to close.  Nothing runs."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    (tmp_path / ".git").mkdir()  # looks like a checkout; git itself fails
    real_run = mod.subprocess.run

    def fake_run(cmd, **kw):
        if cmd[0] == "git":
            raise OSError("git unreachable")
        return real_run(cmd, **kw)

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    assert mod.main() == 2
    captured = capsys.readouterr()
    assert "REFUSING to run" in captured.err
    assert "git state could not be read" in captured.err
    assert "baseline: pytest" not in captured.out  # nothing ran


def test_screen_refuses_when_one_leg_unreadable_other_clean(
        tmp_path, monkeypatch, capsys):
    """ADVICE r18 item 1, the exact scenario named: the diff-HEAD leg
    fails transiently while ls-files reads clean — a modified TRACKED
    target would be invisible to the surviving leg (the legs cover
    disjoint dirty classes), so the screen must refuse, not proceed with
    a warning."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
           "HOME": str(tmp_path), "PATH": os.environ["PATH"]}
    for cmd in (["git", "init", "-q"], ["git", "add", "-A"],
                ["git", "commit", "-qm", "pristine"]):
        subprocess.run(cmd, cwd=tmp_path, check=True, env=env,
                       capture_output=True)
    # tracked target IS dirty — but the only leg that can see that fails
    (tmp_path / "fake_src.py").write_text("X = 1\n# uncommitted edit\n")
    real_run = mod.subprocess.run

    def fake_run(cmd, **kw):
        if cmd[0] == "git" and cmd[1] == "diff":
            raise subprocess.TimeoutExpired(cmd, kw.get("timeout", 0))
        return real_run(cmd, **kw)

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    assert mod.main() == 2
    captured = capsys.readouterr()
    assert "REFUSING to run" in captured.err
    assert "other leg read clean" in captured.err
    assert "baseline: pytest" not in captured.out  # nothing ran


def test_screen_proceeds_silently_without_dotgit(
        tmp_path, monkeypatch, capsys):
    """The hermetic no-``.git`` fake (this file's own fixture) stays the
    only proceed-on-unreadable case: both legs fail (tmp_path is not a
    repo) yet there is nothing to attribute snapshots against, so the
    screen runs to completion with no warning and no refusal."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    assert not (tmp_path / ".git").exists()
    assert mod.main() == 0
    captured = capsys.readouterr()
    assert "T1 flip X: KILLED" in captured.out
    assert "REFUSING" not in captured.err + captured.out
    assert "WARNING" not in captured.err + captured.out


def test_screen_later_leg_failure_keeps_confirmed_dirty(
        tmp_path, monkeypatch, capsys):
    """ADVICE r17 item 1: when the diff-HEAD leg has already confirmed a
    dirty target, a transient failure of the ls-files leg must not
    discard that confirmation — the refusal stands on what was read."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
    )
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
           "HOME": str(tmp_path), "PATH": os.environ["PATH"]}
    for cmd in (["git", "init", "-q"], ["git", "add", "-A"],
                ["git", "commit", "-qm", "pristine"]):
        subprocess.run(cmd, cwd=tmp_path, check=True, env=env,
                       capture_output=True)
    (tmp_path / "fake_src.py").write_text("X = 1\n# uncommitted edit\n")
    real_run = mod.subprocess.run

    def fake_run(cmd, **kw):
        if cmd[0] == "git" and cmd[1] == "ls-files":
            raise subprocess.TimeoutExpired(cmd, kw.get("timeout", 0))
        return real_run(cmd, **kw)

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    assert mod.main() == 2
    out = capsys.readouterr().out
    assert "REFUSING to run" in out
    assert "fake_src.py" in out
    assert "baseline: pytest" not in out


def test_dirty_guard_empty_selection_makes_no_git_call(
        tmp_path, monkeypatch):
    """VERDICT r17 "what's wrong": ``git ls-files --others --`` with NO
    pathspec lists the whole tree's untracked files, so an empty path
    list used to produce a spurious refusal naming files that were never
    mutation targets.  An empty selection must return [] without running
    git at all."""
    mod = _load_screen(tmp_path, monkeypatch, mutants=[], files={})

    def boom(cmd, **kw):
        raise AssertionError(f"git must not be called: {cmd}")

    monkeypatch.setattr(mod.subprocess, "run", boom)
    assert mod._dirty_target_files([]) == []


def test_screen_rejects_unknown_mutant_id(tmp_path, monkeypatch, capsys):
    """VERDICT r17 "what's wrong": a typo'd ID used to select zero
    mutants silently (then trip the empty-selection guard bug).  Unknown
    IDs must be rejected loudly, running nothing."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
        argv=["M999"],
    )
    assert mod.main() == 2
    captured = capsys.readouterr()
    # ADVICE r18 item 3: the rejection is an error — stderr, not stdout
    assert "unknown mutant ID" in captured.err
    assert "M999" in captured.err
    assert "baseline: pytest" not in captured.out  # nothing ran
    # a KNOWN id still runs normally through the same argparse path
    monkeypatch.setattr(sys, "argv", ["mutant_screen.py", "T1"])
    assert mod.main() == 0
    assert "T1 flip X: KILLED" in capsys.readouterr().out


def test_screen_help_prints_usage_not_refusal(tmp_path, monkeypatch, capsys):
    """VERDICT r17 "what's wrong": ``--help`` used to be swallowed as a
    mutant-ID filter and produce a spurious whole-tree refusal.  argparse
    must intercept it: usage on stdout, SystemExit(0), no refusal text."""
    mod = _load_screen(
        tmp_path, monkeypatch,
        mutants=[("T1", "flip X", "fake_src.py", "X = 1", "X = 2",
                  ["tests/test_k.py"])],
        files={"fake_src.py": "X = 1\n", "tests/test_k.py": _KILLER_PINS_X},
        argv=["--help"],
    )
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 0
    out = capsys.readouterr().out
    assert "usage:" in out
    assert "MUTANT_ID" in out
    assert "REFUSING" not in out


def test_every_mutant_original_snippet_canonical_at_head():
    """VERDICT r15 task 2, second leg: pin the canonical spelling of every
    mutant's ORIGINAL snippet in COMMITTED source — ``git show
    HEAD:<path>`` must contain each rule's ``old`` string exactly once.
    The r15 snapshot shipped mutant M60 at HEAD for a full round because
    nothing checked committed state (the working tree was correct, so
    pytest stayed green).  This test fails loudly and cheaply on any
    future committed mutant, independent of working-tree state.

    The rules are read from ``HEAD:tools/mutant_screen.py`` too, so rule
    and source always come from the same commit: a change that edits a
    guarded line and its screen rule together is checked as one unit
    once committed, not working-tree rules against the previous
    commit's source."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    head = subprocess.run(["git", "rev-parse", "--verify", "HEAD"],
                          cwd=repo, capture_output=True, text=True)
    if head.returncode != 0:
        pytest.skip("not a git checkout")

    screen_path = "tools/mutant_screen.py"
    r = subprocess.run(["git", "show", f"HEAD:{screen_path}"], cwd=repo,
                       capture_output=True, text=True)
    assert r.returncode == 0, f"{screen_path} missing at HEAD"
    mod = types.ModuleType("mutant_screen_head_check")
    mod.__file__ = os.path.join(repo, screen_path)
    exec(compile(r.stdout, f"HEAD:{screen_path}", "exec"), mod.__dict__)

    blobs: dict[str, str] = {}
    problems: list[str] = []
    for mid, desc, path, old, new, _killers in mod.MUTANTS:
        if path not in blobs:
            r = subprocess.run(["git", "show", f"HEAD:{path}"], cwd=repo,
                               capture_output=True, text=True)
            assert r.returncode == 0, f"{path} missing at HEAD"
            blobs[path] = r.stdout
        n_old = blobs[path].count(old)
        if n_old != 1:
            state = ("MUTANT COMMITTED" if blobs[path].count(new) > 0
                     else "snippet drifted")
            problems.append(f"{mid} ({desc}): old-count={n_old} in "
                            f"HEAD:{path} [{state}]")
    assert not problems, (
        "mutant original snippets not canonical at HEAD — a committed "
        "mutant or a stale screen rule:\n" + "\n".join(problems))
