"""Source-level checks: the package compiles with no invalid escape
sequence, and the SQL text the entropy query runs stays pinned."""

import glob
import hashlib
import os
import warnings

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_compiles_with_warnings_as_errors():
    """An invalid escape such as '\\s' in a plain string literal is a
    DeprecationWarning on Python 3.11, a SyntaxWarning from 3.12 and a
    SyntaxError under -W error."""
    files = sorted(glob.glob(
        os.path.join(REPO_ROOT, "adcirctime2cogs_spark", "**", "*.py"),
        recursive=True))
    assert files
    bad = []
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        warnings.simplefilter("error", SyntaxWarning)
        for path in files:
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            try:
                compile(src, path, "exec")
            except (SyntaxError, DeprecationWarning, SyntaxWarning) as exc:
                bad.append(f"{os.path.relpath(path, REPO_ROOT)}: {exc}")
    assert not bad, bad


def test_entropy_sql_text_is_unchanged():
    """text_char_entropy runs this exact statement: the character class
    reaches the SQL engines as '[\\s\\S]', backslashes included."""
    from adcirctime2cogs_spark.operators.textstats import _ENTROPY_SQL

    assert r"regexp_extract_all(text, '[\s\S]')" in _ENTROPY_SQL
    assert hashlib.sha256(_ENTROPY_SQL.encode()).hexdigest() == (
        "316585cabe3efbcaec602dcfcb24601e7636b2c6e710939f50e83602750329fc")
