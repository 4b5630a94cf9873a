"""Every ``spark.py_stringsimjoin.*`` session conf the package reads is in
README's configuration table, and the table lists no conf the package no
longer reads."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KEY = re.compile(r"spark\.py_stringsimjoin\.[\w.]+")


def _keys_read() -> set[str]:
    # string literals that are exactly a conf key: the conf.get() arguments,
    # not docstrings that mention a key in passing
    keys = set()
    for path in (ROOT / "py_stringsimjoin_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and KEY.fullmatch(node.value)
            ):
                keys.add(node.value)
    return keys


def _keys_documented() -> set[str]:
    rows = re.findall(
        r"^\| `(spark\.py_stringsimjoin\.[\w.]+)` \|",
        (ROOT / "README.md").read_text(encoding="utf-8"),
        flags=re.MULTILINE,
    )
    return set(rows)


def test_conf_table_matches_confs_read():
    read, documented = _keys_read(), _keys_documented()
    assert read, "no conf reads found — the scan is broken"
    assert read == documented, {
        "read but undocumented": sorted(read - documented),
        "documented but never read": sorted(documented - read),
    }
