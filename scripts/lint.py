#!/usr/bin/env python
"""Lint gate: `ruff check` when the binary exists, syntax gate always.

This container ships no ruff (and package installs are disallowed), so
the gate probes for it — the pyproject.toml config is live the moment
the environment upgrades. Until then the script still compiles every
source file (a real, always-available syntax/undefined-future gate) so
`python scripts/lint.py` is never a silent no-op.

Exit codes: 0 clean (or ruff absent and compile clean), 1 findings.
"""

from __future__ import annotations

import compileall
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TARGETS = [
    "parquet_modular_encryption_spark",
    "tests",
    "scripts",
    "bench.py",
    "__spark_entry__.py",
]


#: Plan anti-patterns the round-9 profiles measured at 4-50x slowdowns.
#: Each entry: (regex, why). Scanned over package source only (tests may
#: deliberately construct them to prove the cost).
ANTIPATTERNS = [
    (
        r"explode\(\s*(raw_)?shingles_from\(",
        "explode over a lazy shingle HOF: codegen inlines the Generate "
        "child, re-running the whole array construction per OUTPUT row "
        "(~50x at shingle fan-out). Project the array, localCheckpoint "
        "the |docs|-row frame, then explode the column — see "
        "ppjoin_candidates (q49c: 19-25 s -> 5.6 s).",
    ),
    (
        r"shingles_from\(\s*tokens\(",
        "tokens() nested inside shingles_from: the regex split is inlined "
        "into the transform lambda and re-runs once per element_at — "
        "O(n^2) splits per document. Project tokens() into a column "
        "first — see q61b (15.7 s -> 1.9 s).",
    ),
]


#: A `.persist()`/`.cache()` with no release path leaks executor blocks
#: for the session's lifetime (bench runs min-of-3, the driver re-runs
#: the whole registry) — the class VERDICT r8 flagged in q47/q47b and r9
#: fixed again in q39d. Every pin site must either release in-scope
#: (`unpersist` within the window below — finally-block or forwarded,
#: both count) or use `localCheckpoint(eager=True)`, which the
#: ContextCleaner reclaims on GC.
PIN_RELEASE_WINDOW = 25


def _scan_unreleased_pins(src: str) -> list[int]:
    """Pin lines (1-based) whose `.persist(`/`.cache(` call has no
    code-level `unpersist` within the release window.

    Token-based (ADVICE r9): the old line heuristic flagged pin calls
    quoted inside docstrings/string literals, and an 'unpersist' anywhere
    in the window — including `# TODO unpersist` comments — silently
    released a genuinely leaky pin. Tokenizing skips STRING/COMMENT
    tokens entirely, so only real attribute-call pins trigger and only a
    real code reference to `unpersist` (a call OR the forwarded-release
    assignment `out.unpersist = pinned.unpersist`) suppresses."""
    import io
    import tokenize

    toks: list[tokenize.TokenInfo] = []
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            toks.append(tok)
    except (tokenize.TokenError, IndentationError):
        pass  # scan whatever tokenized before the error
    pin_lines: list[int] = []
    release_lines: set[int] = set()
    for i, tok in enumerate(toks):
        if tok.type != tokenize.NAME:
            continue
        if tok.string == "unpersist":
            release_lines.add(tok.start[0])
        elif tok.string in ("persist", "cache"):
            prev = toks[i - 1] if i else None
            nxt = toks[i + 1] if i + 1 < len(toks) else None
            if (
                prev is not None
                and prev.type == tokenize.OP
                and prev.string == "."
                and nxt is not None
                and nxt.type == tokenize.OP
                and nxt.string == "("
            ):
                pin_lines.append(tok.start[0])
    return [
        ln
        for ln in pin_lines
        if not any(ln <= r < ln + PIN_RELEASE_WINDOW for r in release_lines)
    ]


#: A module-level ``LAST_*`` global holding an operator's most recent
#: decision (grid, sizing) is shared by every caller on every thread, so
#: a concurrent or later call silently overwrites what an earlier one
#: reads. Operators return their decision records as values instead
#: (``grouped_exact_join`` -> ``(frame, sizing)``,
#: ``salted_hot_feature_join`` -> ``(frame, grid)``).
DECISION_GLOBAL = r"LAST_[A-Z0-9_]*"

#: A module-level ``*_CACHE`` dict memoizing a fixture repeats the one
#: memo in ``scratch.py`` (``session_fixture``), which keys on the
#: session and records a directory only after its build succeeded.
CACHE_GLOBAL = r"[A-Za-z0-9_]*_CACHE"
SCRATCH_HOME = os.path.join("parquet_modular_encryption_spark", "scratch.py")


def _scan_module_globals(src: str, pattern: str) -> list[int]:
    """Lines (1-based) of module-level assignments to a name matching
    ``pattern``."""
    import ast
    import re

    lines = []
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            continue
        names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        if any(re.fullmatch(pattern, n) for n in names):
            lines.append(node.lineno)
    return lines


def _scan_decision_globals(src: str) -> list[int]:
    """Lines (1-based) of module-level assignments to a ``LAST_*`` name."""
    return _scan_module_globals(src, DECISION_GLOBAL)


def _scan_cache_globals(src: str, rel: str) -> list[int]:
    """Lines (1-based) of module-level ``*_CACHE`` assignments in any
    package module other than ``scratch.py``."""
    return [] if rel == SCRATCH_HOME else _scan_module_globals(src, CACHE_GLOBAL)


def _scan_mkdtemp(src: str, rel: str) -> list[int]:
    """Lines (1-based) calling or importing ``tempfile.mkdtemp`` in any
    package module other than ``scratch.py``. A bare mkdtemp directory
    is never removed, so every run leaves one behind; ``scratch_dir``
    puts it under the root removed at interpreter exit."""
    import ast

    if rel == SCRATCH_HOME:
        return []
    lines = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "mkdtemp"
            and isinstance(node.value, ast.Name)
            and node.value.id == "tempfile"
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module == "tempfile"
            and any(a.name == "mkdtemp" for a in node.names)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def scan_antipatterns() -> list[str]:
    import re

    findings = []
    pkg = os.path.join(REPO, "parquet_modular_encryption_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            src = open(path).read()
            for pat, why in ANTIPATTERNS:
                for m in re.finditer(pat, src):
                    line = src.count("\n", 0, m.start()) + 1
                    rel = os.path.relpath(path, REPO)
                    findings.append(f"{rel}:{line}: {why}")
            rel = os.path.relpath(path, REPO)
            for line in _scan_decision_globals(src):
                findings.append(
                    f"{rel}:{line}: module-level LAST_* decision global — "
                    "return the decision record with the frame instead."
                )
            for line in _scan_cache_globals(src, rel):
                findings.append(
                    f"{rel}:{line}: module-level *_CACHE memo — build the "
                    "fixture through scratch.session_fixture instead."
                )
            for line in _scan_mkdtemp(src, rel):
                findings.append(
                    f"{rel}:{line}: tempfile.mkdtemp outside scratch.py — "
                    "nothing removes it; use scratch.scratch_dir instead."
                )
            for line in _scan_unreleased_pins(src):
                findings.append(
                    f"{rel}:{line}: .persist()/.cache() with no unpersist "
                    f"within {PIN_RELEASE_WINDOW} lines — leaks blocks "
                    "across repeated invocations; release in a finally "
                    "block or use localCheckpoint(eager=True) (see "
                    "dedup.py q49b)."
                )
    return findings


def main() -> int:
    ok = True
    for target in TARGETS:
        path = os.path.join(REPO, target)
        if path.endswith(".py"):
            ok &= bool(compileall.compile_file(path, quiet=2))
        else:
            ok &= bool(compileall.compile_dir(path, quiet=2))
    if not ok:
        print("lint: FAIL (syntax)")
        return 1

    findings = scan_antipatterns()
    if findings:
        print("lint: FAIL (plan anti-patterns)")
        for f in findings:
            print(f"  {f}")
        return 1

    ruff = shutil.which("ruff")
    if ruff is None:
        print("lint: syntax OK; ruff=MISSING (config in pyproject.toml is "
              "live on env upgrade)")
        return 0
    proc = subprocess.run(
        [ruff, "check", *TARGETS], cwd=REPO, check=False
    )
    print(f"lint: syntax OK; ruff rc={proc.returncode}")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
