"""Pin the lint gate's scanners (scripts/lint.py).

The lint gate encodes measured plan pathologies (4-50x slowdowns from
Generate-over-lazy-HOF re-evaluation, executor-block leaks from
unreleased persist/cache pins — VERDICT r8's q47 finding, re-found in
q39d). These tests make the scanners themselves part of the pytest
gate: (a) each scanner fires on a synthetic reproduction and stays
quiet on the sanctioned pattern, and (b) the real package is clean, so
a regression in EITHER the package or the scanner fails the suite —
not just the (optional) lint script invocation.

No Spark session: pure source-scanning, runs in milliseconds.
"""

from __future__ import annotations

import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "lint_under_test", os.path.join(REPO, "scripts", "lint.py")
)
lint = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(lint)


# ---------------------------------------------------------------- pins


def test_unreleased_pin_scanner_flags_bare_persist_and_cache():
    leaky = (
        "df = spark.read.parquet(p)\n"
        "pinned = df.persist()\n"
        "return pinned.count()\n"
    )
    assert lint._scan_unreleased_pins(leaky) == [2]
    leaky_cache = "x = frame.cache()\nreturn x\n"
    assert lint._scan_unreleased_pins(leaky_cache) == [1]


def test_unreleased_pin_scanner_accepts_finally_release():
    released = (
        "df = src.persist()\n"
        "try:\n"
        "    do_work(df)\n"
        "finally:\n"
        "    df.unpersist()\n"
    )
    assert lint._scan_unreleased_pins(released) == []


def test_unreleased_pin_scanner_accepts_forwarded_release():
    # the encrypted_native.py pattern: unpersist responsibility forwarded
    # to the caller on the returned frame, within the release window
    forwarded = (
        "pinned = df.persist(StorageLevel.MEMORY_ONLY)\n"
        "try:\n"
        "    pinned.count()\n"
        "except Exception:\n"
        "    pinned.unpersist()\n"
        "    raise\n"
        "out = pinned.drop(tag)\n"
        "out.unpersist = pinned.unpersist\n"
        "return out\n"
    )
    assert lint._scan_unreleased_pins(forwarded) == []


def test_unreleased_pin_scanner_ignores_strings_and_comments():
    # ADVICE r9: a pin call QUOTED in a docstring/string literal is not a
    # pin, and an 'unpersist' that only appears in a comment or docstring
    # is not a release.
    doc_only = (
        'def f():\n'
        '    """Uses df.persist() under the hood — see notes."""\n'
        '    return 1\n'
    )
    assert lint._scan_unreleased_pins(doc_only) == []
    string_only = 'MSG = "call .cache() and later .unpersist()"\n'
    assert lint._scan_unreleased_pins(string_only) == []
    comment_release = (
        "pinned = df.persist()\n"
        "# TODO unpersist this eventually\n"
        "return pinned.count()\n"
    )
    assert lint._scan_unreleased_pins(comment_release) == [1]
    docstring_release = (
        "pinned = df.cache()\n"
        'helper.__doc__ = "remember to unpersist"\n'
        "return pinned\n"
    )
    assert lint._scan_unreleased_pins(docstring_release) == [1]


def test_unreleased_pin_scanner_ignores_local_checkpoint():
    # the sanctioned pattern needs no release: ContextCleaner reclaims on GC
    ok = "sh = frame.localCheckpoint(eager=True)\nreturn sh\n"
    assert lint._scan_unreleased_pins(ok) == []


# ------------------------------------------------- plan anti-patterns


def test_explode_over_lazy_hof_regex_fires():
    pat = lint.ANTIPATTERNS[0][0]
    assert re.search(pat, "df.select(F.explode(shingles_from(col)))")
    assert re.search(pat, "F.explode(raw_shingles_from(body, 5))")
    # projecting the array first is the fix — must NOT fire
    assert not re.search(pat, "df.withColumn('sh', shingles_from(col))")


def test_nested_tokens_regex_fires():
    pat = lint.ANTIPATTERNS[1][0]
    assert re.search(pat, "shingles_from(tokens(F.col('body')), 5)")
    assert not re.search(pat, "shingles_from(F.col('toks'), 5)")


# ------------------------------------------------- decision globals


def test_decision_global_scanner_fires_on_module_level_last():
    src = (
        "from x import y\n"
        "LAST_X: dict = {}\n"
        "LAST_GRID = {}\n"
        "LAST_N += 1\n"
    )
    assert lint._scan_decision_globals(src) == [2, 3, 4]


def test_decision_global_scanner_ignores_locals_and_other_names():
    src = (
        "PAIR_GRID = 4\n"
        "LAST = 1\n"
        "def f():\n"
        "    LAST_X = {}\n"
        "    return LAST_X\n"
        "doc = 'LAST_X: dict = {}'\n"
    )
    assert lint._scan_decision_globals(src) == []


# ------------------------------------------------------ fixture memos


def test_cache_global_scanner_fires_outside_scratch():
    # the per-module q60b memo the package carried before session_fixture
    src = (
        "#: appId-scoped memo for q60b's encrypted partitioned dataset\n"
        "_Q60B_FIXTURE_CACHE: dict[tuple[str, str], str] = {}\n"
        "def f():\n"
        "    _LOCAL_CACHE = {}\n"
    )
    rel = os.path.join("parquet_modular_encryption_spark", "operators", "encrypted.py")
    assert lint._scan_cache_globals(src, rel) == [2]


def test_cache_global_scanner_passes_scratch_memo():
    rel = os.path.join("parquet_modular_encryption_spark", "scratch.py")
    with open(os.path.join(REPO, rel)) as fh:
        src = fh.read()
    # the memo is there, and only its home module may hold it
    assert lint._scan_cache_globals(src, "elsewhere.py") != []
    assert lint._scan_cache_globals(src, rel) == []


# --------------------------------------------------- scratch directories


def test_mkdtemp_scanner_fires_outside_scratch():
    # q39's scratch line as it stood before scratch_dir: never removed
    src = (
        "import tempfile\n"
        "def q39_csv_json_sources(spark, sf_dir):\n"
        "    prep(spark)\n"
        '    scratch = tempfile.mkdtemp(prefix="pme_q39_")\n'
        "    note = 'tempfile.mkdtemp quoted in a string is no call'\n"
    )
    rel = os.path.join("parquet_modular_encryption_spark", "operators", "advanced.py")
    assert lint._scan_mkdtemp(src, rel) == [4]
    assert lint._scan_mkdtemp("from tempfile import mkdtemp\n", rel) == [1]
    assert lint._scan_mkdtemp("import tempfile\nt = tempfile.mkstemp()\n", rel) == []


def test_mkdtemp_scanner_passes_scratch_py():
    rel = os.path.join("parquet_modular_encryption_spark", "scratch.py")
    with open(os.path.join(REPO, rel)) as fh:
        src = fh.read()
    # scratch_dir is built on mkdtemp, and only its home module may call it
    assert lint._scan_mkdtemp(src, "elsewhere.py") != []
    assert lint._scan_mkdtemp(src, rel) == []


# ------------------------------------------------------ package clean


def test_package_source_is_clean():
    findings = lint.scan_antipatterns()
    assert findings == [], "\n".join(findings)
